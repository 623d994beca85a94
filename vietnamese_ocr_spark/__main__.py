"""CLI entry point — the spark-submit surface.

  python -m vietnamese_ocr_spark extract --documents D.parquet \
      --media M.parquet --out OUT_DIR [--no-resume] [--master local[32]]
  python -m vietnamese_ocr_spark extract --images PNG_DIR --out OUT_DIR
  python -m vietnamese_ocr_spark synth --docs 1000 --out DIR [--seed 42]

On a cluster: `spark-submit --py-files vietnamese_ocr_spark.zip
cli.py extract ...` — the package has no native deps beyond NumPy.
Reference analog: predict.py --type batch --img_path DIR (predict.py:7-24).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="vietnamese_ocr_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="run the extraction pipeline")
    ex.add_argument("--documents", help="documents parquet (interleaved spans)")
    ex.add_argument("--media", help="media parquet (media_ref, png, size_b)")
    ex.add_argument(
        "--images",
        help="raw directory of PNG files instead of --documents/--media — "
        "the reference's primary input mode (one doc per image)",
    )
    ex.add_argument(
        "--pdfs",
        help="raw directory of PDF files instead of --documents/--media — "
        "each PDF parses to one text-span document (layout reading order)",
    )
    ex.add_argument(
        "--jsonl",
        action="store_true",
        help="treat --documents/--media as JSONL (media payloads base64) "
        "instead of parquet",
    )
    ex.add_argument("--out", required=True)
    ex.add_argument("--master", default=None)
    ex.add_argument("--no-resume", action="store_true")
    ex.add_argument("--partitions", type=int, default=None)
    ex.add_argument(
        "--encoder",
        default=None,
        help="registered encoder variant (model/registry.py; the "
        "reference's config-string model dispatch). Default: "
        "template_cosine. Pass an unknown name to list the registry.",
    )

    tk = sub.add_parser(
        "tokenize",
        help="train BPE merges on a (doc_id, text) table and segment it",
    )
    tk.add_argument("--documents", required=True, help="parquet with doc_id, text")
    tk.add_argument("--out", required=True, help="output dir (merges.json + tokens parquet)")
    tk.add_argument("--merges", type=int, default=64)
    tk.add_argument("--min-pair-freq", type=int, default=2)
    tk.add_argument(
        "--max-words",
        type=int,
        default=None,
        help="cap the collected word table to the top-N by frequency "
        "(standard frequency cap for huge corpora)",
    )
    tk.add_argument("--master", default=None)

    sy = sub.add_parser("synth", help="generate the deterministic synthetic corpus")
    sy.add_argument("--docs", type=int, required=True)
    sy.add_argument("--out", required=True)
    sy.add_argument("--seed", type=int, default=42)

    pk = sub.add_parser("package", help="zip the package for spark-submit --py-files")
    pk.add_argument("--out", default="dist/vietnamese_ocr_spark.zip")

    rc = sub.add_parser(
        "recognize", help="single-image recognition (reference: predict.py --type single)"
    )
    rc.add_argument("--png", help="path to a gray8 PNG")
    rc.add_argument(
        "--interactive",
        action="store_true",
        help="S10: read PNG paths from stdin (one per line), emit one JSON "
        "result per line — the terminal-native form of the reference's "
        "interactive app.py session; the model loads once",
    )

    st = sub.add_parser("status", help="show an extract table's snapshots + lineage")
    st.add_argument("--out", required=True, help="extract table root dir")

    pf = sub.add_parser(
        "profile", help="per-column QA stats (rows/nulls/distincts/min/max)"
    )
    pf.add_argument("--table", required=True, help="parquet table path")
    pf.add_argument("--columns", default=None, help="comma-separated subset")
    pf.add_argument("--master", default=None)

    cu = sub.add_parser(
        "curate",
        help="corpus curation over a (doc_id, text, ...) table: quality + "
        "repetition gates, near-dup canonical dedup, deterministic sample",
    )
    cu.add_argument("--documents", help="documents parquet with a text column")
    cu.add_argument(
        "--warcs",
        help="directory of .warc/.warc.gz crawl archives; response "
        "records pass tree-aware main-content extraction, then the "
        "same curation stages (round-6)",
    )
    cu.add_argument("--out", required=True, help="curated parquet output dir")
    cu.add_argument("--master", default=None)
    cu.add_argument("--jaccard-threshold", type=float, default=0.5)
    cu.add_argument("--sample-frac", type=float, default=1.0)
    cu.add_argument("--seed", type=int, default=42)
    cu.add_argument("--no-quality", action="store_true")
    cu.add_argument("--no-repetition", action="store_true")
    cu.add_argument("--no-dedup", action="store_true")

    ag = sub.add_parser(
        "augment",
        help="P6 training-augmentation pass over a media table "
        "(deterministic keyed chain; writes augmented PNGs + ops audit)",
    )
    ag.add_argument("--media", required=True, help="parquet with (media_ref, png)")
    ag.add_argument("--out", required=True, help="augmented parquet output dir")
    ag.add_argument("--seed", type=int, default=42)
    ag.add_argument("--master", default=None)

    xp = sub.add_parser(
        "explain",
        help="print a registered query's formatted physical plan (the "
        "plan-shape review surface: pushdown, joins, codegen spans)",
    )
    xp.add_argument("--query", required=True, help="name from queries()/EXTRA_QUERIES")
    xp.add_argument("--sf", default="/root/testdata/sf0.001", help="sf table dir")
    xp.add_argument("--master", default="local[4]")

    mt = sub.add_parser(
        "maintain",
        help="table maintenance: compact small data files into "
        "~target-size files (replace snapshot), optionally expire old "
        "snapshots and reclaim unreferenced files",
    )
    mt.add_argument("--out", required=True, help="extract table root dir")
    mt.add_argument("--target-mb", type=int, default=128)
    mt.add_argument(
        "--expire-keep",
        type=int,
        default=None,
        help="after compacting, keep only the last N snapshots and delete "
        "files nothing retained references",
    )
    mt.add_argument(
        "--orphans-older-than",
        type=float,
        default=None,
        metavar="SECONDS",
        help="also delete data files referenced by NO snapshot whose "
        "mtime is older than SECONDS (age-gated: young orphans may be a "
        "concurrent writer's in-flight output or a pending OCC retry)",
    )
    mt.add_argument(
        "--rollback-to",
        type=int,
        default=None,
        metavar="SNAPSHOT",
        help="FIRST, roll the table back to SNAPSHOT (a new replace "
        "snapshot reproducing that state; non-destructive — later "
        "history stays time-travelable until expiry)",
    )
    mt.add_argument("--master", default=None)

    args = p.parse_args(argv)

    if args.cmd == "augment":
        from .config import get_spark
        from .operators.augment_stage import augment_media

        spark = get_spark("augment-cli", master=args.master)
        try:
            out = augment_media(spark.read.parquet(args.media), seed=args.seed)
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"out": args.out, "augmented": n, "seed": args.seed}))
        finally:
            spark.stop()
        return 0

    if args.cmd == "explain":
        from .config import get_spark
        from .plans.queries import EXTRA_QUERIES, QUERIES

        registry = {**QUERIES, **EXTRA_QUERIES}
        if args.query not in registry:
            print(
                f"unknown query {args.query!r}; choices: {', '.join(sorted(registry))}",
                file=sys.stderr,
            )
            return 1
        spark = get_spark("explain-cli", master=args.master)
        try:
            df = registry[args.query](spark, args.sf)
            print(
                df._jdf.queryExecution().explainString(  # noqa: SLF001
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
        finally:
            spark.stop()
        return 0

    if args.cmd == "tokenize":
        from .config import get_spark
        from .operators.bpe import bpe_segment, bpe_train, bpe_vocab

        spark = get_spark("tokenize-cli", master=args.master)
        try:
            docs = spark.read.parquet(args.documents).select("doc_id", "text")
            merges, table = bpe_train(
                docs,
                num_merges=args.merges,
                min_pair_freq=args.min_pair_freq,
                max_words=args.max_words,
            )
            vocab_n = bpe_vocab(table).count()
            os.makedirs(args.out, exist_ok=True)
            with open(os.path.join(args.out, "merges.json"), "w") as f:
                json.dump([list(m) for m in merges], f)
            seg = bpe_segment(docs, merges)
            seg.write.mode("overwrite").parquet(os.path.join(args.out, "tokens.parquet"))
            stats = spark.read.parquet(os.path.join(args.out, "tokens.parquet")).agg(
                {"n_tokens": "sum", "doc_id": "count"}
            ).collect()[0]
            print(json.dumps({
                "merges": len(merges),
                "vocab_size": vocab_n,
                "docs": stats["count(doc_id)"],
                "total_tokens": int(stats["sum(n_tokens)"]),
                "out": args.out,
            }))
        finally:
            spark.stop()
        return 0

    if args.cmd == "maintain":
        from .config import get_spark
        from .sources.tableio import ExtractTable

        spark = get_spark("maintain-cli", master=args.master)
        try:
            table = ExtractTable(args.out)
            result = {}
            if args.rollback_to is not None:
                try:
                    result["rollback"] = table.rollback(args.rollback_to)
                except ValueError as ex:
                    print(json.dumps({"error": str(ex)}))
                    return 1
            result["compact"] = table.compact(spark, target_file_mb=args.target_mb)
            if args.expire_keep is not None:
                result["expire"] = table.expire_snapshots(keep_last=args.expire_keep)
            if args.orphans_older_than is not None:
                result["orphans"] = table.remove_orphans(args.orphans_older_than)
            print(json.dumps(result))
        finally:
            spark.stop()
        return 0

    if args.cmd == "status":
        import duckdb

        from .sources.tableio import ExtractTable

        table = ExtractTable(args.out)
        snaps = table.manifest()["snapshots"]
        summary = {"snapshots": len(snaps), "head": snaps[-1] if snaps else None}
        lineage_glob = f"{table.lineage_dir}/*.parquet"
        if os.path.isdir(table.lineage_dir):
            row = duckdb.sql(
                f"select count(*) parts, coalesce(sum(media_count),0) media, "
                f"coalesce(sum(token_count),0) tokens, "
                f"coalesce(sum(decode_failures),0) failures "
                f"from '{lineage_glob}'"
            ).fetchone()
            summary["lineage"] = {
                "partitions": row[0], "media_recognized": int(row[1]),
                "tokens": int(row[2]), "decode_failures": int(row[3]),
            }
        print(json.dumps(summary, default=str))
        return 0

    if args.cmd == "recognize":
        # E2 path: one payload, no Spark — the same shared pipeline the
        # executors run (model/pipeline.py), so outputs match the cluster
        from .model.pipeline import recognize_png_batch
        from .model.recognizer import Recognizer, build_weights

        if bool(args.png) == bool(args.interactive):
            p.error("pass exactly one of --png PATH or --interactive")
        rec = Recognizer(build_weights())

        def one(path: str) -> dict:
            with open(path, "rb") as f:
                payload = f.read()
            texts, hist, ok = recognize_png_batch([payload], rec)
            text = texts[0] if texts[0] else "a"  # inference.py:108-110
            return {"text": text, "decode_ok": ok[0], "tokens": int(hist[0].sum())}

        if args.interactive:
            for line in sys.stdin:
                path = line.strip()
                if not path:
                    continue
                try:
                    out = one(path)
                except OSError as ex:
                    out = {"error": str(ex), "path": path}
                print(json.dumps(out), flush=True)
            return 0
        out = one(args.png)
        print(json.dumps(out))
        return 0 if out["decode_ok"] else 1

    if args.cmd == "package":
        from .packaging import build_pyfiles_zip

        print(json.dumps({"py_files": build_pyfiles_zip(args.out)}))
        return 0

    if args.cmd == "profile":
        from .config import get_spark
        from .operators.profile import profile_table

        spark = get_spark("profile-cli", master=args.master)
        try:
            df = spark.read.parquet(args.table)
            cols = args.columns.split(",") if args.columns else None
            rows = profile_table(df, cols).collect()
            print(json.dumps({r["column"]: {
                "rows": r["n_rows"], "nulls": r["n_nulls"],
                "distinct": r["n_distinct"], "min": r["min_str"],
                "max": r["max_str"]} for r in rows}))
        finally:
            spark.stop()
        return 0

    if args.cmd == "curate":
        from .config import get_spark
        from .plans.curate import curate_df

        if bool(args.documents) == bool(args.warcs):
            p.error("curate needs exactly one of --documents or --warcs")
        spark = get_spark("curate-cli", master=args.master)
        try:
            if args.warcs:
                from .sources.warc import read_warc_folder, warc_documents

                docs = warc_documents(
                    read_warc_folder(spark, args.warcs)
                ).selectExpr("doc_id", "main_text as text")
            else:
                docs = spark.read.parquet(args.documents)
            curated, stats = curate_df(
                docs,
                jaccard_threshold=args.jaccard_threshold,
                sample_frac=args.sample_frac,
                seed=args.seed,
                with_quality=not args.no_quality,
                with_repetition=not args.no_repetition,
                with_dedup=not args.no_dedup,
            )
            curated.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"out": args.out, "stages": stats}))
        finally:
            from .caching import release_persisted

            release_persisted()  # free the dedup shingle caches
            spark.stop()
        return 0

    if args.cmd == "synth":
        from .sources.fixtures import generate_corpus

        paths = generate_corpus(args.docs, args.out, seed=args.seed)
        print(json.dumps({"generated": paths}))
        return 0

    n_modes = sum(bool(v) for v in (args.images, args.pdfs,
                                     args.documents and args.media))
    if n_modes != 1:
        p.error("pass exactly one of --images DIR, --pdfs DIR, or both "
                "--documents and --media")

    from .config import get_spark
    from .model.registry import DEFAULT_ENCODER
    from .plans.extract import run_extract, run_extract_frames

    encoder = args.encoder or DEFAULT_ENCODER
    spark = get_spark("extract-cli", master=args.master)
    try:
        if args.pdfs:
            from .sources.pdf_folder import read_pdf_folder, read_pdf_media

            docs = read_pdf_folder(spark, args.pdfs)
            # media = embedded image XObjects (scanned pages) -> the
            # same OCR stage as any other media span
            result = run_extract_frames(
                spark,
                docs,
                read_pdf_media(spark, args.pdfs),
                args.out,
                resume=not args.no_resume,
                n_partitions=args.partitions,
                encoder=encoder,
            )
        elif args.images:
            from .sources.image_folder import folder_documents, read_image_folder

            media_df = read_image_folder(spark, args.images)
            result = run_extract_frames(
                spark,
                folder_documents(media_df),
                media_df,
                args.out,
                resume=not args.no_resume,
                n_partitions=args.partitions,
                encoder=encoder,
            )
        elif args.jsonl:
            from .sources.jsonl import read_documents_jsonl, read_media_jsonl

            result = run_extract_frames(
                spark,
                read_documents_jsonl(spark, args.documents),
                read_media_jsonl(spark, args.media),
                args.out,
                resume=not args.no_resume,
                n_partitions=args.partitions,
                encoder=encoder,
            )
        else:
            result = run_extract(
                spark,
                args.documents,
                args.media,
                args.out,
                resume=not args.no_resume,
                n_partitions=args.partitions,
                encoder=encoder,
            )
        print(json.dumps(result))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
