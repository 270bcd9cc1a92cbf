"""Segment layout, discovery, multi-segment federation, and O(bytes) merge.

Reference: one segment = a directory of three files — ``idx`` (doc-ordered
entry log), ``nl`` (doc names), ``voc_sz`` (posting lengths)
(/root/reference/Index.cpp:9-11); the engine loads every segment and remaps
docIDs into one global space by positional offset
(/root/reference/SearchEngine.cpp:221-297, U1).

Ours: one segment = a parquet dataset directory::

    <path>/blocks/      posting blocks, partitioned by term_bucket; a
                        with_positions=1 build adds positional twin rows
                        under the same layout (row kinds: postings.py)
    <path>/doc_map/     (doc_id, conv_id, turn_idx, role, tool) [nl analog]
    <path>/doc_lens/    (doc_id, dl) doc-length sidecar
    <path>/dict/        (term, df, cf, idf), rows sorted by term within
                        each file (:func:`write_dictionary`)    [voc_sz analog]
    <path>/metrics/     per-term build metrics
    <path>/tombstones/  (doc_id) deleted docs (deletes.delete_docs); the one
                        dataset a segment may lack
    <path>/meta.json    n_docs, avgdl, doc_space, n_shards, lineage, config,
                        format_version (3: dl-free posting blocks + sentinel
                        doc-stat rows; the only format readers accept)

Every dataset's schema is declared in :data:`DATASETS` and every engine read
goes through :func:`read_dataset`, so opening a segment runs NO Spark job:
no schema inference, and the ``term_buckets + 1`` partition directories are
listed on the driver (``session.get_spark`` raises Spark's parallel-listing
threshold above that count). The format check stays strict: opening a
segment compares one parquet footer per dataset against the declaration on
the driver (``pyarrow.parquet.read_schema``) and refuses a missing dataset,
a missing column or a different type instead of reading nulls. Readers take
the layout from the segment, never from the caller's config: a term's
partition is :func:`term_bucket_col` of the segment's own ``term_buckets``,
which ``meta.json`` must record.

A query resolves its terms' (df, cf, idf) on the driver with no Spark job:
``Segment.term_stats`` reads the ``dict/`` files through one pyarrow dataset
opened per segment, with a ``term in`` filter that each file's sorted
row-group term statistics bound; ``SegmentSet.term_stats`` sums its
members' df and cf and evaluates :func:`_idf_col` over a pandas-built local
frame, which Spark folds without a job, so its idf is bit-equal to
``SegmentSet.dictionary``'s. The per-doc dl table of the indexed scan
(``dl_broadcast``) is read the same way, from the ``doc_lens/`` files, and
a scan's ``term_bucket IN (...) AND term IN (...)`` probe is one SQL
expression (:func:`in_list`), so a call's plan building does not grow with
the number of probed terms.

docIDs are data-derived within a segment (dense rank over the segment's own
rows); cross-segment remap adds each segment's ``doc_base`` offset — the
same offset trick as the reference, but recorded in metadata instead of
depending on load order. Offsets use ``doc_space`` (TOTAL id space,
including zero-token docs), never the BM25 ``n_docs``.

Two ways to see many segments as one corpus:

- :class:`SegmentSet` — query-time federation, NO compaction: blocks are
  remapped lazily (an O(bytes) leading-varint splice, postings.remap_blocks),
  idf/avgdl recomputed from summed per-segment stats. Matches the
  reference's query-time union (/root/reference/SearchEngine.cpp:94-102).
- :func:`merge_segments` — LSM compaction: the SAME remapped blocks written
  back once. O(bytes) concat+splice; postings are never decoded, sorted, or
  re-encoded. The first member sits at doc and salt offset 0, so its
  blocks, doc_map and doc_lens files are hard-linked into the output, not
  rewritten; tombstones are carried, offset like the doc ids. The merged
  dictionary recomputes idf from the summed df and merged scoring uses the
  union's avgdl — both legal because block bounds store idf- and avgdl-free
  (max_tf, min_dl).
"""

from __future__ import annotations

import json
import operator
import os
import re
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.operators.postings import (
    BLOCKS_SCHEMA,
    SALT_CHUNK_SPAN,
    is_posting,
    remap_blocks,
)

FORMAT_VERSION = 3

# format-v3 dataset schemas (Spark DDL), the one declaration every reader
# passes. blocks' term_bucket is the partition column: it lives in the
# directory names, not in the files.
DATASETS = {
    "blocks": BLOCKS_SCHEMA + ", term_bucket int",
    "dict": "term string, df long, cf long, idf double",
    "metrics": (
        "term string, postings long, bytes long, n_salts long, n_blocks long, "
        "max_tf long, cf long"
    ),
    "doc_map": "doc_id long, conv_id string, turn_idx int, role string, tool string",
    "doc_lens": "doc_id long, dl long",
    "tombstones": "doc_id long",
}
_PARTITION_COLUMN = "term_bucket"
# the one dataset a segment may lack: delete_docs writes it on first use
_OPTIONAL_DATASETS = ("tombstones",)
# the parquet footer type (as pyarrow reads it) Spark writes for each type
_ARROW_TYPES = {
    "string": "string", "binary": "binary", "int": "int32", "long": "int64", "double": "double",
}


def term_bucket_col(n_buckets: int, term: Column | str = "term") -> Column:
    """The term -> term_bucket partition of a segment with ``n_buckets``
    term buckets, as the build writes it and every reader probes it, of the
    ``term`` column (or of any string Column, e.g. a lambda variable)."""
    return F.pmod(F.xxhash64(term), F.lit(int(n_buckets))).cast("int")


def term_buckets(segment, terms) -> dict[str, int]:
    """term -> term_bucket of ``terms`` in ``segment``'s layout, by
    :func:`term_bucket_col` (xxhash64 is a JVM expression) over a
    pandas-built local relation, which Spark folds: no job."""
    import pandas as pd

    terms = sorted(set(terms))
    if not terms:
        return {}
    probe = segment.spark.createDataFrame(pd.DataFrame({"term": terms}), schema="term string")
    return dict(probe.select("term", term_bucket_col(segment.term_buckets)).collect())


# what a plain '...' SQL literal cannot carry as is: quotes, backslash
# escapes, ${var} substitution
_UNQUOTABLE = re.compile(r"['\\$]")


def _sql_literal(v) -> str:
    if isinstance(v, str):
        if _UNQUOTABLE.search(v):
            raise ValueError(f"in_list: {v!r} holds ', \\ or $; values are terms")
        return "'" + v + "'"
    return str(operator.index(v))  # raises on a float instead of truncating


def in_list(column: str, values) -> Column:
    """``column IN (values)`` built as ONE SQL expression: a fixed number
    of py4j calls whatever the list length, where ``Column.isin`` makes a
    literal Column and a list append per value. Catalyst sees the same
    ``In`` (``InSet`` above 10 values), so partition pruning and parquet
    pushdown (``PushedFilters: [In(...)]``) are unchanged. ``values`` are
    ints (buckets, doc ids) or terms — the tokenizer's ``[a-z0-9]+``
    runs, as ``tokens_col`` splits them and the dictionary stores them —
    so strings are quoted as they are; one holding ``'``, ``\\`` or ``$``
    raises."""
    values = list(values)
    if not values:
        return F.lit(False)
    return F.expr(f"`{column}` IN ({', '.join(map(_sql_literal, values))})")


def dataset_fields(name: str) -> list[tuple[str, str]]:
    """(column, Spark type) pairs of a declared dataset schema."""
    return [tuple(f.split()) for f in DATASETS[name].split(",")]


def _first_data_file(path: str) -> str | None:
    """One parquet data file under ``path`` (hidden ``_``/``.`` names are
    Spark's markers, not data), or None for an empty dataset."""
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(d, f)
    return None


def check_dataset(seg_path: str, name: str) -> None:
    """Compare one footer of ``<seg_path>/<name>`` with the declared schema
    on the driver (no Spark job); raise ``ValueError`` naming the dataset on
    a missing column or a different type. A declared read would otherwise
    return nulls for a missing column."""
    import pyarrow.parquet as pq

    f = _first_data_file(os.path.join(seg_path, name))
    if f is None:
        return
    got = {fld.name: str(fld.type) for fld in pq.read_schema(f)}
    for col, typ in dataset_fields(name):
        if col == _PARTITION_COLUMN:
            continue
        if col not in got:
            raise ValueError(
                f"segment {seg_path}: dataset {name} lacks declared column "
                f"{col} {typ} ({f})"
            )
        if got[col] != _ARROW_TYPES[typ]:
            raise ValueError(
                f"segment {seg_path}: dataset {name} column {col} is "
                f"{got[col]}, declared {typ} ({f})"
            )


def read_dataset(spark: SparkSession, seg_path: str, name: str) -> DataFrame:
    """Read a segment dataset with its declared schema: no schema-inference
    job, and the footer is checked against the declaration first."""
    check_dataset(seg_path, name)
    return spark.read.schema(DATASETS[name]).parquet(os.path.join(seg_path, name))


def arrow_dataset(seg_path: str, name: str) -> "ds.Dataset":
    """A segment dataset as a pyarrow dataset on the driver, with its
    declared schema after the footer check (:func:`check_dataset`): the
    driver-side twin of :func:`read_dataset`, for reads that run no Spark
    job."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    check_dataset(seg_path, name)
    schema = pa.schema(
        [(c, pa.type_for_alias(_ARROW_TYPES[t])) for c, t in dataset_fields(name)]
    )
    return ds.dataset(os.path.join(seg_path, name), schema=schema, format="parquet")


def _idf_col(n_docs: int):
    return F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )


# the columns of a posting block the indexed scan reads (wand._scan_one_query)
# plus the partition column its term_bucket prune filters on
SCAN_COLUMNS = (
    "term", "n", "doc_ids", "tfs", "max_tf", "min_dl", "first_doc", "last_doc", "term_bucket",
)


def write_dictionary(dictionary: DataFrame, seg_path: str) -> None:
    """Write ``<seg_path>/dict`` from a (term, df, cf, idf) frame, rows
    sorted by term within each file: the sort runs inside the write tasks
    (no job, no file added), and each row group's term min/max then bounds
    a ``term in`` lookup (:meth:`Segment.term_stats`)."""
    cols = [F.col(c).cast(t) for c, t in dataset_fields("dict")]
    (
        dictionary.select(*cols)
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(seg_path, "dict"))
    )


def _stats_frame(rows) -> "pd.DataFrame":
    """(term, df, cf, idf) pandas frame of ``rows``, sorted by term."""
    import pandas as pd

    cols = [c for c, _ in dataset_fields("dict")]
    return pd.DataFrame(rows, columns=cols).sort_values("term", ignore_index=True)


class Segment:
    """One segment directory, opened once.

    Opening runs no Spark job: ``meta.json`` and one footer per dataset
    are checked on the driver (:func:`check_dataset`), and every dataset is
    read with its declared schema. A segment directory is immutable once
    ``build_index``, ``merge_segments`` or ``compact_segment`` has written
    it, so the blocks and dictionary DataFrames are made at their first use
    and serve every later query — the reference's load-once index
    (reference SearchEngine.cpp:94-102). A ``Segment`` is therefore a
    snapshot: after rewriting a path in place, open a new ``Segment`` on
    it. Tombstones live in their own directory and are re-read on every
    query (``deletes.live_mask``)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        if (
            self.meta.get("format_version") != FORMAT_VERSION
            or int(self.meta.get("n_shards") or 0) <= 0
        ):
            raise ValueError(
                f"segment {path}: format_version="
                f"{self.meta.get('format_version')}, n_shards="
                f"{self.meta.get('n_shards')}; readers need format_version "
                f"{FORMAT_VERSION} with n_shards > 0 (a doc-sharded combiner "
                "build) — rebuild it with build_index"
            )
        if "term_buckets" not in self.meta.get("config", {}):
            raise ValueError(
                f"segment {path}: meta.json config lacks term_buckets, the "
                "term -> partition layout readers probe — rebuild it with "
                "build_index"
            )
        for name in DATASETS:
            if name not in _OPTIONAL_DATASETS and not os.path.isdir(
                os.path.join(path, name)
            ):
                raise ValueError(
                    f"segment {path}: dataset {name} is missing — rebuild it "
                    "with build_index"
                )
            check_dataset(path, name)

    @property
    def term_buckets(self) -> int:
        """The segment's own term -> partition bucket count."""
        return int(self.meta["config"]["term_buckets"])

    @property
    def blocks(self) -> DataFrame:
        """Posting blocks only (sentinel doc-stat rows and positional twin
        rows excluded)."""
        return self.raw_blocks.filter(is_posting())

    @property
    def raw_blocks(self) -> DataFrame:
        """Blocks INCLUDING the sentinel doc-stats rows (partition
        term_bucket=-1) and any positional twin rows — what merge and
        federation must carry. Read once per Segment."""
        if not hasattr(self, "_raw_blocks"):
            self._raw_blocks = read_dataset(self.spark, self.path, "blocks")
        return self._raw_blocks

    @property
    def doc_lengths(self) -> DataFrame:
        """(doc_id, dl) sidecar."""
        return read_dataset(self.spark, self.path, "doc_lens")

    @property
    def doc_map(self) -> DataFrame:
        return read_dataset(self.spark, self.path, "doc_map")

    @property
    def dictionary(self) -> DataFrame:
        """(term, df, cf, idf). Read once per Segment."""
        if not hasattr(self, "_dictionary"):
            self._dictionary = read_dataset(self.spark, self.path, "dict")
        return self._dictionary

    def term_stats(self, terms) -> "pd.DataFrame":
        """(term, df, cf, idf) of the in-vocabulary ``terms``, read on the
        driver with no Spark job: one pyarrow ``term in`` scan of the
        ``dict/`` files, through a dataset opened once per Segment."""
        import pyarrow.dataset as ds

        if not hasattr(self, "_dict_files"):
            self._dict_files = arrow_dataset(self.path, "dict")
        found = self._dict_files.to_table(filter=ds.field("term").isin(sorted(set(terms))))
        return _stats_frame(found.to_pandas())

    @property
    def scan_blocks(self) -> DataFrame:
        """Posting blocks with the columns the indexed scan reads
        (:data:`SCAN_COLUMNS`), planned once per Segment or SegmentSet
        (which shares this property)."""
        if not hasattr(self, "_scan_blocks"):
            self._scan_blocks = self.blocks.select(*SCAN_COLUMNS)
        return self._scan_blocks

    @property
    def metrics(self) -> DataFrame:
        return read_dataset(self.spark, self.path, "metrics")

    @property
    def doc_space(self) -> int:
        """Total doc_id space (max id + 1; ids are dense over ALL transcript
        rows, including zero-token docs — so this can exceed the BM25
        ``n_docs``). Key stride / offset base for batch scans and merges."""
        return int(self.meta["doc_space"])

    @property
    def dl_broadcast(self):
        """Broadcast dense doc_id -> dl int32 array (doc_space-sized) — the
        resident per-doc-norm table the reference loads at index open
        (/root/reference/SearchEngine.cpp:359-391). Since format v3 drops
        the per-posting dl stream, the low-latency indexed scan gathers dl
        from this lookup. Built once per Segment or SegmentSet (which
        shares this property) on the driver with no Spark job
        (:func:`_dl_array`). Memory bound: 4 bytes/doc on the driver and per
        executor — fine to billions of docs; beyond that use the doc-sharded
        batch path, whose dl travels shard-aligned in the sentinel sidecar
        instead."""
        if not hasattr(self, "_dl_bc"):
            self._dl_bc = self.spark.sparkContext.broadcast(_dl_array(self))
        return self._dl_bc


def _dl_array(seg) -> "np.ndarray":
    """Dense doc_id -> dl int32 lookup of a Segment or SegmentSet, read on
    the driver with no Spark job: each member's ``doc_lens/`` files
    through pyarrow (:func:`arrow_dataset`), ids shifted by the member's
    doc offset — the same array as a collect of ``seg.doc_lengths``."""
    import numpy as np

    members = zip(seg.segments, seg.offsets) if isinstance(seg, SegmentSet) else [(seg, 0)]
    arr = np.zeros(int(seg.doc_space), dtype=np.int32)
    for s, off in members:
        tbl = arrow_dataset(s.path, "doc_lens").to_table()
        ids = tbl.column("doc_id").to_numpy().astype(np.int64) + off
        arr[ids] = tbl.column("dl").to_numpy()  # zero-token docs stay dl=0
    return arr


def _shift_doc_ids(df: DataFrame, offset: int) -> DataFrame:
    return df.withColumn("doc_id", (F.col("doc_id") + F.lit(offset)).cast("long"))


def _member_blocks(s: Segment, offset: int, salt_offset: int) -> DataFrame:
    """A member's raw blocks in the union's id space: doc ids shifted by an
    O(bytes) leading-varint splice, salts rebased by the member's
    cumulative shard offset."""
    b = remap_blocks(s.raw_blocks, offset)
    if salt_offset:
        b = b.withColumn(
            "salt",
            (F.col("salt") + F.lit(int(salt_offset) * SALT_CHUNK_SPAN)).cast("int"),
        )
    return b


def _member_doc_map(s: Segment, offset: int, _salt_offset: int) -> DataFrame:
    return _shift_doc_ids(s.doc_map, offset)


def _member_doc_lens(s: Segment, offset: int, _salt_offset: int) -> DataFrame:
    return _shift_doc_ids(s.doc_lengths, offset)


def _member_tombstones(s: Segment, offset: int, _salt_offset: int) -> DataFrame | None:
    if not os.path.isdir(os.path.join(s.path, "tombstones")):
        return None
    return _shift_doc_ids(read_dataset(s.spark, s.path, "tombstones"), offset)


class SegmentSet:
    """N segments queried as ONE corpus — no compaction required (U1 at
    query time, /root/reference/SearchEngine.cpp:94-102,221-297).

    Presents the same surface as :class:`Segment` (blocks / dictionary /
    doc_map / meta), so ``bm25_topk_indexed`` and
    ``bm25_topk_batch`` run against it unchanged:

    - ``blocks``: per-segment blocks with docIDs shifted by the segment's
      cumulative ``doc_space`` offset — a lazy O(bytes) leading-varint
      splice (postings.remap_blocks), nothing is decoded or re-encoded.
    - ``dictionary``: per-term df/cf summed across segments; idf recomputed
      from the union's n_docs (idf is not additive).
    - ``meta``: n_docs summed, avgdl token-weighted, doc_space summed.

    All segments must share doc_shards / term_buckets / k1 / b (the score
    and layout contract); enforced at construction. Each view is a new plan
    over the members' once-read datasets, so a set re-lists no files.
    """

    def __init__(self, spark: SparkSession, paths: list[str]):
        self.spark = spark
        self.segments = [p if isinstance(p, Segment) else Segment(spark, p) for p in paths]
        if not self.segments:
            raise ValueError("SegmentSet needs at least one segment")
        c0 = self.segments[0].meta["config"]
        for s in self.segments[1:]:
            c = s.meta["config"]
            for key in ("doc_shards", "term_buckets", "k1", "b"):
                if c.get(key) != c0.get(key):
                    raise ValueError(
                        f"SegmentSet: segment {s.path} config {key}={c.get(key)} "
                        f"differs from {c0.get(key)}"
                    )
        self.offsets = []
        acc, n_docs, tokens = 0, 0, 0.0
        self.salt_offsets = []
        salt_acc = 0
        for s in self.segments:
            self.offsets.append(acc)
            acc += s.doc_space
            n_docs += s.meta["n_docs"]
            tokens += s.meta["avgdl"] * s.meta["n_docs"]
            # segments keep DISJOINT salt ranges in the union: member salts
            # are rebased by the cumulative shard count, so a (term, salt)
            # group never mixes two segments' blocks. The batch kernel needs
            # this twice over — its scan shard is salt // span (colliding
            # shards would interleave non-monotone doc ranges inside a term
            # slice, breaking the doc-sorted binary-search invariant), and
            # its per-shard sentinel dl table must span one segment's doc
            # range, not the whole union's.
            self.salt_offsets.append(salt_acc)
            salt_acc += int(s.meta["n_shards"])
        # rebased salts live in an int32 column: the build guards pid < 2^19
        # to keep one segment's salts inside int32, but cumulative rebasing
        # across members must re-check — a silent wrap would collide shards
        # and break the batch kernel's doc-sorted binary-search invariant.
        # (merge_segments goes through this constructor, so one guard covers
        # both the federation and the compaction rebase.)
        if salt_acc * SALT_CHUNK_SPAN > 2**31:
            raise ValueError(
                f"SegmentSet: {salt_acc} cumulative shards x span "
                f"{SALT_CHUNK_SPAN} overflows int32 salts — merge members "
                "first or raise the salt dtype"
            )
        self.meta = {
            "n_docs": int(n_docs),
            "avgdl": (tokens / n_docs) if n_docs else 0.0,
            "doc_space": int(acc),
            # every member is per-doc-consistently sharded, so the union is
            # too; rebased salts make shard ids disjoint, so the union has
            # the SUM of the members' shards
            "n_shards": salt_acc,
            "doc_base": 0,
            "config": c0,
            "lineage": {
                "segments": [
                    {"path": s.path, "doc_base": o}
                    for s, o in zip(self.segments, self.offsets)
                ]
            },
        }

    @property
    def blocks(self) -> DataFrame:
        return self.raw_blocks.filter(is_posting())

    def _union(self, frame, start: int = 0) -> DataFrame | None:
        """Union of ``frame(segment, doc offset, salt offset)`` over the
        members from index ``start`` on; a frame may be None (nothing to
        add), and so is the union of none."""
        out = None
        members = zip(self.segments, self.offsets, self.salt_offsets)
        for s, off, soff in list(members)[start:]:
            d = frame(s, off, soff)
            if d is not None:
                out = d if out is None else out.unionByName(d)
        return out

    @property
    def raw_blocks(self) -> DataFrame:
        return self._union(_member_blocks)

    @property
    def doc_lengths(self) -> DataFrame:
        return self._union(_member_doc_lens)

    @property
    def doc_map(self) -> DataFrame:
        return self._union(_member_doc_map)

    @property
    def dictionary(self) -> DataFrame:
        # df/cf are additive across segments (disjoint doc sets); idf is not
        out = None
        for s in self.segments:
            d = s.dictionary.select("term", "df", "cf")
            out = d if out is None else out.unionByName(d)
        return (
            out.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .withColumn("idf", _idf_col(self.meta["n_docs"]))
        )

    def term_stats(self, terms) -> "pd.DataFrame":
        """(term, df, cf, idf) of the terms in the union's vocabulary, with
        no Spark job: the members' df and cf summed on the driver, idf
        evaluated by :func:`_idf_col` over a pandas-built local frame (Spark
        folds it), so it is bit-equal to :attr:`dictionary`'s."""
        import pandas as pd

        terms = sorted(set(terms))
        parts = [s.term_stats(terms)[["term", "df", "cf"]] for s in self.segments]
        summed = pd.concat(parts).groupby("term", as_index=False)[["df", "cf"]].sum()
        if summed.empty:
            return _stats_frame([])
        rows = (
            self.spark.createDataFrame(summed, schema="term string, df long, cf long")
            .select("term", "df", "cf", _idf_col(self.meta["n_docs"]).alias("idf"))
            .collect()
        )
        return _stats_frame(rows)

    scan_blocks = Segment.scan_blocks

    @property
    def metrics(self) -> DataFrame:
        out = None
        for s in self.segments:
            mt = s.metrics
            out = mt if out is None else out.unionByName(mt)
        return out.groupBy("term").agg(
            F.sum("postings").alias("postings"),
            F.sum("bytes").alias("bytes"),
            F.sum("n_salts").alias("n_salts"),
            F.sum("n_blocks").alias("n_blocks"),
            F.max("max_tf").alias("max_tf"),
            F.sum("cf").alias("cf"),
        )

    @property
    def doc_space(self) -> int:
        return int(self.meta["doc_space"])

    @property
    def term_buckets(self) -> int:
        return int(self.meta["config"]["term_buckets"])

    dl_broadcast = Segment.dl_broadcast


def _link_files(src: str, dst: str) -> None:
    """Hard-link every data file under ``src`` to the same relative path
    under ``dst``, copying where linking fails (another filesystem, or one
    without hard links). Spark's ``_``/``.`` marker files are left out.
    Spark never edits a written file in place (an overwrite deletes and
    writes new files), so a later rewrite of ``src`` leaves ``dst`` intact."""
    for d, dirs, files in os.walk(src):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out = os.path.join(dst, os.path.relpath(d, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f.startswith(("_", ".")):
                continue
            try:
                os.link(os.path.join(d, f), os.path.join(out, f))
            except OSError:
                shutil.copy2(os.path.join(d, f), os.path.join(out, f))


def merge_segments(
    spark: SparkSession,
    paths: list[str],
    out_path: str,
    cfg: EngineConfig = DEFAULT,
) -> Segment:
    """LSM compaction by O(bytes) splice — the reference's merge cost model
    (/root/reference/SearchEngine.cpp:250-287: concat entry logs + offset).

    Postings are NEVER decoded. The first member sits at doc offset 0 and
    salt offset 0, so its ``blocks/``, ``doc_map/`` and ``doc_lens/`` files
    are already in merged form: they are hard-linked into ``out_path`` (a
    copy where linking fails), not rewritten. Each later member's blocks
    are remapped by rewriting only each block's leading varint
    (remap_blocks) with salts rebased by its cumulative shard offset, as the
    query-time SegmentSet does, and appended in their source term_bucket
    layout — no exchange. Its doc_map and doc_lens rows are appended with
    shifted ids. Only the vocabulary-sized dictionary (summed df/cf,
    recomputed idf) and metrics are recomputed. Tombstones are carried,
    each member's ids shifted by its doc offset, so a deleted doc stays
    deleted until ``compact_segment``. Cost is proportional to the BYTES of
    the members after the first; the merge runs no job that reads the first
    member's blocks. The layout and config come from the members; ``cfg``
    is not read.
    """
    ss = SegmentSet(spark, paths)
    if any(os.path.realpath(s.path) == os.path.realpath(out_path) for s in ss.segments):
        # the output's datasets are cleared before the members are read
        raise ValueError(f"merge_segments: out_path {out_path} is one of its inputs")
    os.makedirs(out_path, exist_ok=True)
    for name in DATASETS:
        shutil.rmtree(os.path.join(out_path, name), ignore_errors=True)
    first = ss.segments[0].path
    writes = {"blocks": _member_blocks, "doc_map": _member_doc_map, "doc_lens": _member_doc_lens}
    for name, frame in writes.items():
        _link_files(os.path.join(first, name), os.path.join(out_path, name))
        rows = ss._union(frame, start=1)
        if rows is None:
            continue
        w = rows.write.mode("append")
        if name == "blocks":  # append in the source term_bucket layout
            w = w.partitionBy("term_bucket")
        w.parquet(os.path.join(out_path, name))
    dead = ss._union(_member_tombstones)
    if dead is not None:
        dead.write.mode("append").parquet(os.path.join(out_path, "tombstones"))
    write_dictionary(ss.dictionary, out_path)
    ss.metrics.write.mode("overwrite").parquet(os.path.join(out_path, "metrics"))
    meta = {
        "n_docs": ss.meta["n_docs"],
        "avgdl": ss.meta["avgdl"],
        "doc_space": ss.meta["doc_space"],
        "n_shards": ss.meta["n_shards"],
        "doc_base": 0,
        "created_at": time.time(),
        "lineage": {"merged_from": ss.meta["lineage"]["segments"]},
        # the layout contract (doc_shards, term_buckets, k1, b) comes from
        # the INPUT segments — SegmentSet enforced their consistency
        "config": ss.meta["config"],
        # members all opened as v3 (Segment refuses anything else) and
        # their blocks are carried verbatim
        "format_version": FORMAT_VERSION,
    }
    with open(os.path.join(out_path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    return Segment(spark, out_path)


def segment_stats(segment) -> DataFrame:
    """Index statistics (the ES ``_stats`` / Lucene ``IndexReader`` counts,
    the reference's post-build summary print, /root/reference/main.cpp:88):
    ONE row — n_docs, distinct terms, total postings (Σ df), total tokens
    (Σ cf), avgdl — computed from the segment's own metadata + dictionary,
    NEVER a corpus or postings scan (the dictionary is vocabulary-sized).
    avgdl is re-derived as Σcf / n_docs (exact integer sums, so any oracle
    replays the division bit-for-bit). Works for a Segment or a federated
    SegmentSet (both expose meta["n_docs"] and a dictionary view)."""
    n_docs = int(segment.meta["n_docs"])
    return (
        segment.dictionary.agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("cf").cast("long").alias("total_tokens"),
        )
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn(
            "avgdl",
            F.round(F.col("total_tokens") / F.lit(float(n_docs)), 6),
        )
        .select("n_docs", "n_terms", "n_postings", "total_tokens", "avgdl")
    )
