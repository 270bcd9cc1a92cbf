"""Tokenization — the full-text graft of the reference's only text surface.

The reference's tokenizer is ``Util::strtok`` + L2 normalize
(/root/reference/util.h:106-113, /root/reference/util.h:164-172): trivial
whitespace splitting applied per row before quantization. Ours: lowercase,
split on runs of non-[a-z0-9], drop empties.

:func:`tokens_col` is a pure Catalyst expression (JVM-side, whole-stage
codegen; faster than any UDF and oracle-parity with DuckDB's
``regexp_split_to_array`` through :func:`duckdb_tokens_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the one tokenizer of builds and queries: lowercase, split on runs of
# non-[a-z0-9], drop empties. Must stay expressible in both Spark SQL and
# DuckDB SQL (oracle parity).
TOKEN_PATTERN = "[^a-z0-9]+"


def tokens_col(
    text: Column | str,
    pattern: str = TOKEN_PATTERN,
    stop: frozenset | set = frozenset(),
    min_len: int = 1,
) -> Column:
    """array<string> of tokens, JVM-side (codegen'd, no Python). ``stop`` /
    ``min_len`` apply the analyzer filter (Lucene StopFilter/LengthFilter):
    stop terms and tokens shorter than ``min_len`` drop AFTER the split —
    still pure Catalyst expressions (a literal array membership test)."""
    c = F.col(text) if isinstance(text, str) else text
    arr = F.array_remove(F.split(F.lower(c), pattern), "")
    if not stop and min_len <= 1:
        return arr
    conds = []
    if min_len > 1:
        conds.append(lambda t: F.length(t) >= min_len)
    if stop:
        lit = F.array(*[F.lit(s) for s in sorted(stop)])
        conds.append(lambda t: ~F.array_contains(lit, t))
    return F.filter(
        arr,
        lambda t: conds[0](t) if len(conds) == 1 else conds[0](t) & conds[1](t),
    )


def duckdb_tokens_sql(
    col: str = "text",
    pattern: str = TOKEN_PATTERN,
    stop: frozenset | set = frozenset(),
    min_len: int = 1,
) -> str:
    """DuckDB expression producing the same token array (oracle parity),
    including the analyzer filter when ``stop`` / ``min_len`` are set."""
    pred = "t <> ''"
    if min_len > 1:
        pred += f" AND length(t) >= {int(min_len)}"
    if stop:
        lst = ", ".join(f"'{s}'" for s in sorted(stop))
        pred += f" AND t NOT IN ({lst})"
    return f"list_filter(regexp_split_to_array(lower({col}), '{pattern}'), t -> {pred})"


def filter_tokens(flat, par, stop: frozenset | set = frozenset(), min_len: int = 1):
    """Analyzer filter over :func:`arrow_flat_tokens` output: drop stop
    terms and tokens shorter than ``min_len`` from the (flat, parent)
    pair — one vectorized mask (pyarrow is_in + length compare), no
    per-token Python. Identity when both options are defaults."""
    if not stop and min_len <= 1:
        return flat, par
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = None
    if min_len > 1:
        keep = pc.greater_equal(pc.utf8_length(flat), min_len)
    if stop:
        m = pc.invert(pc.is_in(flat, value_set=pa.array(sorted(stop))))
        keep = m if keep is None else pc.and_(keep, m)
    kn = keep.to_numpy(zero_copy_only=False).astype(bool)
    return flat.filter(keep), par[kn]


def _byte_class_lut(pattern: str):
    """If ``pattern`` is a negated ASCII character class ``[^...]+`` (literal
    chars and simple ranges only), return the 256-entry bool LUT of TOKEN
    bytes; else None. Byte semantics == regex semantics for such patterns:
    every class byte is ASCII (< 0x80), every UTF-8 continuation/lead byte is
    >= 0x80 and therefore a separator byte-wise exactly as the multi-byte
    character it belongs to is a separator character-wise."""
    import numpy as np

    if not (pattern.startswith("[^") and pattern.endswith("]+")):
        return None
    body = pattern[2:-2]
    if not body or any(ord(c) >= 0x80 or c == "\\" for c in body):
        return None
    lut = np.zeros(256, dtype=bool)
    i = 0
    while i < len(body):
        if i + 2 < len(body) and body[i + 1] == "-":
            lo, hi = ord(body[i]), ord(body[i + 2])
            if lo > hi:
                return None
            lut[lo:hi + 1] = True
            i += 3
        else:
            lut[ord(body[i])] = True
            i += 1
    return lut


def arrow_flat_tokens(text, pattern: str = TOKEN_PATTERN):
    """Tokenize an Arrow string column (NOT yet lowered; nulls allowed) into
    ``(flat tokens StringArray, parent int64 ndarray)`` — the flattened,
    empty-filtered form every Arrow build kernel consumes. Output is
    identical to ``split_pattern_regex(utf8_lower(fill_null(text, '')),
    pattern)`` + parent-indices + drop-empties.

    Fast path (default token pattern): a numpy BYTE kernel over the lowered
    column's raw (offsets, data) buffers — one 256-LUT classify, run starts/
    ends from shifted compares (doc boundaries force breaks), token bytes
    collected with ONE boolean compress, parents by per-doc token counts.
    ~1.4x the RE2 split throughput with ~4x fewer allocator interactions
    (measured: the RE2 path's per-token ListArray allocation was the single
    hottest concurrency contention point in the 16-worker build kernel).
    Non-class patterns fall back to RE2 ``split_pattern_regex``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    low = pc.utf8_lower(pc.fill_null(text, ""))
    if isinstance(low, pa.ChunkedArray):
        low = low.combine_chunks()
    lut = _byte_class_lut(pattern)
    if lut is None:
        toks = pc.split_pattern_regex(low, pattern)
        toks = toks.combine_chunks() if isinstance(toks, pa.ChunkedArray) else toks
        parent = pc.list_parent_indices(toks)
        flat = pc.list_flatten(toks)
        keep = pc.not_equal(flat, "")
        par = parent.filter(keep).to_numpy(zero_copy_only=False).astype(np.int64)
        return flat.filter(keep), par

    n_docs = len(low)
    bufs = low.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32, count=n_docs + 1).astype(np.int64)
    base = off[0]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)[base:off[-1]]
        if bufs[2] is not None
        else np.zeros(0, np.uint8)
    )
    off = off - base
    nb = data.size
    empty_flat = pa.array([], type=pa.string())
    if nb == 0:
        return empty_flat, np.zeros(0, dtype=np.int64)
    in_cls = lut[data]
    # run breaks at doc starts: a token never spans two documents
    brk = np.zeros(nb, dtype=bool)
    brk[0] = True
    db = off[1:-1]
    brk[db[db < nb]] = True
    is_start = in_cls & (brk | ~np.r_[False, in_cls[:-1]])
    is_end = in_cls & (np.r_[brk[1:], True] | ~np.r_[in_cls[1:], False])
    ts = np.flatnonzero(is_start)
    if ts.size == 0:
        return empty_flat, np.zeros(0, dtype=np.int64)
    lens = np.flatnonzero(is_end) - ts + 1
    gathered = data[in_cls]  # token bytes, contiguous, order kept
    offs = np.empty(ts.size + 1, dtype=np.int32)
    offs[0] = 0
    np.cumsum(lens, out=offs[1:])
    flat = pa.StringArray.from_buffers(
        ts.size, pa.py_buffer(offs.tobytes()), pa.py_buffer(gathered.tobytes())
    )
    # parent of a token starting at byte p = the doc owning [off[i], off[i+1})
    # containing p; side='right' lands past any empty docs sharing the start
    parent = np.searchsorted(off, ts, side="right") - 1
    return flat, parent.astype(np.int64)
