"""spark-submit job: top-k BM25 queries against a built segment.

    spark-submit --py-files dist/engine.zip jobs/query.py \
        --index /path/index -q "table scan merge" -q "spark query" [-k 10] \
        [--out results.parquet]

Mode-3 analog (/root/reference/main.cpp:93-121).
"""

import _bootstrap  # noqa: F401
import argparse
import os
import re

import pandas as pd

from ivfadc_spark.functions.tokenize import TOKEN_PATTERN
from ivfadc_spark.operators.queryparse import search_topk
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
    texts, kernel = args.query, bm25_topk_indexed
    if args.mode == "and":
        # every analyzed query term is a MUST clause of the parsed-query
        # scan; an OOV term can never match, so its query returns no rows
        texts = [" ".join("+" + t for t in re.split(TOKEN_PATTERN, q.lower()) if t) for q in texts]
        kernel = search_topk
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": range(len(texts)), "text": texts}),
        schema="query_id long, text string",
    )
    out = kernel(queries, seg, k=args.k)
    res = out.join(seg.doc_map, "doc_id")
    res = res.select("query_id", "rank", "doc_id", "score", "conv_id", "turn_idx")
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
    for r in res.orderBy("query_id", "rank").collect():
        print(f"{r.query_id}\t{r.rank}\t{r.doc_id}\t{r.score:.6f}\t{r.conv_id}\t{r.turn_idx}")


if __name__ == "__main__":
    main()
