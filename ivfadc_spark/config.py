"""Engine configuration.

Analog of the reference's ``Config`` struct + ``CParamReader`` key=value
files (/root/reference/config.h:23-120, /root/reference/ParamReader.cpp:39-71),
re-expressed as a dataclass with CLI/JSON loading. Knob mapping:

- ``coarsek`` (number of cells)      -> implicit: vocabulary size (data-driven)
- ``nsq``/``nsqbits`` (code budget)  -> ``block_size`` posting-block budget
- ``ma`` (multi-assignment)          -> query terms (data-driven)
- ``num_ret``                        -> ``top_k``
- ``nt`` (threads)                   -> ``session.get_spark(master=,
  shuffle_partitions=)``, not a config field
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field, fields


@dataclass(frozen=True)
class EngineConfig:
    # BM25 scoring (live version of the dead tf-idf path,
    # /root/reference/SearchEngine.cpp:302-335)
    k1: float = 1.2
    b: float = 0.75
    top_k: int = 10  # reference default num_ret (/root/reference/config.h:91,98)

    # analyzer options (the Lucene StopFilter / LengthFilter analog),
    # applied AFTER tokenization and BEFORE any counting — so dl, tf, df,
    # avgdl and positional offsets all see the filtered token stream, as
    # Lucene counts field length after analysis. stop_terms: comma-
    # separated lowercase terms ("" = no stop list; kept a flat string so
    # CParamReader key=value files can set it). min_token_len: tokens
    # shorter than this are dropped (1 = keep all). Query-side needs no
    # special casing: a stopped term never enters the dictionary, so it is
    # OOV at query time — exactly Lucene's behavior when the same analyzer
    # runs on the query.
    stop_terms: str = ""
    min_token_len: int = 1

    # posting blocks (analog of Entry{id, codes[nsq]} fixed-width packing,
    # /root/reference/entry.cpp:60-72 — ours is delta+varint, variable width)
    block_size: int = 128

    # doc-sharding: the id-assign step range-partitions the corpus into
    # min(doc_shards, ceil(rows / build_index.SHARD_ROWS)) partitions —
    # doc_shards is an UPPER BOUND, reached from SHARD_ROWS * doc_shards
    # rows on — each holding one CONTIGUOUS doc_id range, and the combiner
    # encodes each partition in place. Every posting list is
    # thereby split per partition (salt = pid * SALT_CHUNK_SPAN + chunk, so
    # salt // SALT_CHUNK_SPAN is the partition-level shard). The split is
    # uniform and per-doc consistent, so head-term skew (the reference's
    # spin-locked hot-centroid files, IO.h:503-522) splits maximally and
    # each shard is a complete sub-index over its doc range: a batch of
    # queries fans out to shards once instead of copying posting blocks per
    # query (the reference's process-level scatter, X4). Must be >= 1.
    doc_shards: int = 32

    # combiner-encode flush budget (tokens): each flush becomes its own
    # doc-range shard. Bounds the kernel's working set to cache-friendly
    # sizes — large fresh allocations per task measurably anti-scale in
    # many-worker single-host runs (page-fault/allocator contention).
    encode_chunk_tokens: int = 1 << 19

    # fused positional postings: when 1, stage 01 ALSO emits positional
    # twin rows (postings.twin_block_id, token offsets varint-encoded in
    # the v3-unused dls column) from the SAME tokenize pass — phrase search
    # without a second corpus pass. 0 (default) leaves the build untouched.
    with_positions: int = 0

    # layout
    term_buckets: int = 64  # postings dataset partition key = hash(term) % buckets

    extra: dict = field(default_factory=dict)

    def __post_init__(self):
        if int(self.doc_shards) < 1:
            raise ValueError(
                f"doc_shards must be >= 1 (got {self.doc_shards}): every "
                "build is doc-sharded"
            )

    def stop_set(self) -> frozenset:
        """The stop list as a frozenset ('' -> empty)."""
        return frozenset(t for t in self.stop_terms.split(",") if t)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "EngineConfig":
        """Inverse of :meth:`to_json`. Keys that are not fields (e.g. ones a
        segment's meta.json recorded before a field was removed) go to
        ``extra``."""
        raw = json.loads(s)
        known = {f.name for f in fields(cls)} - {"extra"}
        kw = {k: v for k, v in raw.items() if k in known}
        extra = {k: v for k, v in raw.items() if k not in known and k != "extra"}
        return cls(**kw, extra={**(raw.get("extra") or {}), **extra})

    @classmethod
    def from_params(cls, text: str) -> "EngineConfig":
        """Parse the reference's CParamReader key=value format
        (/root/reference/ParamReader.cpp:39-71): one ``key value`` or
        ``key=value`` pair per line, ``#`` comments, later keys win.
        Values are coerced to the dataclass field's type; unknown keys go
        to ``extra`` (the reference ignores them silently — we keep them
        visible for lineage)."""
        ftypes = {f.name: f.type for f in fields(cls)}
        kw: dict = {}
        extra: dict = {}
        for line in text.splitlines():
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            if "=" in line:
                key, val = (x.strip() for x in line.split("=", 1))
            else:
                key, _, val = line.partition(" ")
                key, val = key.strip(), val.strip()
            if not key or not val:
                continue
            if key in ftypes and key != "extra":
                t = ftypes[key]
                if t in ("int", int):
                    kw[key] = int(val)
                elif t in ("float", float):
                    kw[key] = float(val)
                else:
                    kw[key] = val
            else:
                extra[key] = val
        kw["extra"] = extra
        return cls(**kw)


DEFAULT = EngineConfig()
