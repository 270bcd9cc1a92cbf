"""spark-submit job: top-k BM25 queries against a built segment.

    spark-submit --py-files dist/engine.zip jobs/query.py \
        --index /path/index -q "table scan merge" -q "spark query" [-k 10] \
        [--out results.parquet]

Mode-3 analog (/root/reference/main.cpp:93-121).
"""

import _bootstrap  # noqa: F401
import argparse
import os

import pandas as pd

from ivfadc_spark.operators.segments import Segment
from ivfadc_spark.operators.wand import bm25_topk_indexed
from ivfadc_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="index dir (contains segment/) or segment dir")
    ap.add_argument("-q", "--query", action="append", required=True)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument(
        "--mode", choices=["or", "and"], default="or",
        help="or = rank any doc matching any term (reference semantics); "
        "and = conjunctive, doc must contain every query term",
    )
    ap.add_argument("--out", help="optional parquet output path")
    args = ap.parse_args()

    spark = get_spark("ivfadc-query")
    seg_path = args.index
    if os.path.exists(os.path.join(args.index, "segment", "meta.json")):
        seg_path = os.path.join(args.index, "segment")
    seg = Segment(spark, seg_path)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": range(len(args.query)), "text": args.query}),
        schema="query_id long, text string",
    )
    if args.mode == "and":
        from pyspark.sql import functions as F

        from ivfadc_spark.operators.postings import decode_blocks
        from ivfadc_spark.operators.query import bm25_topk_conjunctive, query_terms

        terms = [r["term"] for r in query_terms(queries).distinct().collect()]
        # term-pruned decode for tf; dl comes from the doc-length sidecar
        # — no distinct() over postings
        dec = decode_blocks(seg.blocks.filter(F.col("term").isin(terms)))
        dl = seg.doc_lengths
        out = bm25_topk_conjunctive(
            queries,
            dec.select("term", "doc_id", "tf"),
            seg.dictionary,
            dl,
            seg.meta["avgdl"],
            k=args.k,
        )
    else:
        out = bm25_topk_indexed(queries, seg, k=args.k)
    res = out.join(seg.doc_map, "doc_id")
    res = res.select("query_id", "rank", "doc_id", "score", "conv_id", "turn_idx")
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
    for r in res.orderBy("query_id", "rank").collect():
        print(f"{r.query_id}\t{r.rank}\t{r.doc_id}\t{r.score:.6f}\t{r.conv_id}\t{r.turn_idx}")


if __name__ == "__main__":
    main()
