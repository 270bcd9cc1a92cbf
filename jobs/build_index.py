"""spark-submit job: build a compressed BM25 segment from a transcripts table.

    spark-submit --master local[32] --py-files dist/engine.zip \
        jobs/build_index.py --input /path/transcripts.parquet --out /path/index \
        [--resume] [--from-documents /root/testdata/sf0.01/documents.parquet]

Mode-2 analog (/root/reference/main.cpp:70-92). Resumable via --resume
(per-stage manifest checkpoints, north_rule requirement).
"""

import _bootstrap  # noqa: F401
import argparse
import json

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.session import get_spark
from ivfadc_spark.sources.transcripts import transcripts_from_documents


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet/iceberg path")
    ap.add_argument("--from-documents", help="adapt a documents table instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--block-size", type=int, default=EngineConfig.block_size)
    ap.add_argument(
        "--no-fsck", action="store_true",
        help="skip the post-build integrity gate (fsck + segment_stats)",
    )
    args = ap.parse_args()

    spark = get_spark("ivfadc-build-index")
    if args.from_documents:
        tx = transcripts_from_documents(
            spark.read.parquet(args.from_documents).select("doc_id", "text")
        )
    elif args.input:
        tx = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --from-documents is required")
    cfg = EngineConfig(block_size=args.block_size)
    seg = build_index(
        spark, tx, args.out, cfg=cfg, resume=args.resume,
        lineage={"input": args.input or args.from_documents},
    )
    meta = dict(seg.meta)
    if not args.no_fsck:
        # post-build integrity gate: the reference asserts invariants at
        # every load (SURVEY.md §5); here the build itself refuses to hand
        # over a segment whose blocks/sidecars/dictionary are inconsistent.
        # fsck findings are corpus-metadata-sized; stats is one row.
        from ivfadc_spark.operators.fsck import fsck_segment
        from ivfadc_spark.operators.segments import segment_stats

        findings = fsck_segment(seg, deep=True).collect()
        meta["fsck"] = {"findings": len(findings), "deep": True}
        meta["stats"] = {
            k: (float(v) if k == "avgdl" else int(v))
            for k, v in segment_stats(seg).collect()[0].asDict().items()
        }
        if findings:
            for f in findings[:20]:
                print(f"FSCK {f['check']} {f['key']}: {f['detail']}")
            print(json.dumps(meta))
            raise SystemExit(f"fsck: {len(findings)} integrity finding(s) in {args.out}")
    print(json.dumps(meta))


if __name__ == "__main__":
    main()
