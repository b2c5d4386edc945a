"""Command-line interface — `railgun` CLI twin (python -m railgun_spark).

Command parity with the reference (railgun/cli/root.go and siblings):
  process   read -> DFL -> write ETL        (railgun/cli/process.go:519-945)
  convert   format A -> format B, no expr   (railgun/cli/convert.go:23-50)
  eval      evaluate a DFL expr against a context object; bool result sets
            the exit code                   (railgun/cli/eval.go:75-186)
  serve     catalog + query HTTP server     (railgun/cli/serve.go:191-366)
  functions discoverable function catalog   (railgun/router/RailgunRouter.go:60-65)
  formats   supported serialization formats (railgun/router/RailgunRouter.go:58)
  version   engine version                  (railgun/cli/version.go)

Differences by design: variables are passed as JSON (not a DFL map
expression), and execution is a Spark logical plan rather than per-object
interpretation — `--stream` selects per-object null-drop semantics
(cli/process.go:184-189), not a different executor.
"""

from __future__ import annotations

import argparse
import json
import sys

from railgun_spark import __version__


def _add_common_io(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input-uri", required=True)
    p.add_argument("--input-format", default=None, help="override extension inference")
    p.add_argument("--input-header", default=None, help="csv/tsv explicit header, comma-separated")
    p.add_argument("--input-limit", type=int, default=None)
    p.add_argument("--input-passphrase", default=None, help=".enc input decryption")
    p.add_argument("--input-salt", default="", help="hex salt for .enc input")
    p.add_argument("--output-uri", default=None, help="may be a DFL expression over @attrs")
    p.add_argument("--output-format", default=None)
    p.add_argument("--output-limit", type=int, default=None)
    p.add_argument("--output-mode", default="overwrite", choices=["overwrite", "append"])
    p.add_argument("--output-passphrase", default=None, help=".enc output encryption")
    p.add_argument("--output-salt", default="", help="hex salt for .enc output")


def _parse_vars(raw: str | None) -> dict:
    return json.loads(raw) if raw else {}


def cmd_process(args) -> int:
    from railgun_spark.plans.process import process_uri
    from railgun_spark.session import get_spark

    input_options: dict = {}
    if args.input_format:
        input_options["fmt"] = args.input_format
    if args.input_header:
        input_options["header"] = args.input_header.split(",")
    if args.input_limit is not None:
        input_options["limit"] = args.input_limit
    if args.input_passphrase:
        input_options["passphrase"] = args.input_passphrase
        input_options["salt"] = args.input_salt

    result = process_uri(
        get_spark("railgun_process"),
        args.input_uri,
        expr=args.dfl,
        output_uri=args.output_uri,
        variables=_parse_vars(args.dfl_vars),
        stream=args.stream,
        input_options=input_options or None,
        output_format=args.output_format,
        output_mode=args.output_mode,
        output_limit=args.output_limit,
        output_passphrase=args.output_passphrase,
        output_salt=args.output_salt,
    )
    if result is not None:  # no output uri -> rows to stdout as jsonl
        for r in result.toJSON().toLocalIterator():
            print(r)
    return 0


def cmd_convert(args) -> int:
    from railgun_spark.sources.formats import convert
    from railgun_spark.session import get_spark

    convert(get_spark("railgun_convert"), args.input_uri, args.output_uri)
    return 0


def cmd_eval(args) -> int:
    """Evaluate a DFL expression against a JSON context object. A boolean
    result maps to the exit code (0=true, 1=false), matching
    railgun/cli/eval.go:173-186. With --sql, print the compiled Spark SQL
    instead of evaluating (eval.go:121,159 node.Sql output)."""
    from railgun_spark.dfl import run_pipeline
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_eval")
    ctx = json.loads(args.context) if args.context else {}
    df = spark.createDataFrame([ctx] if isinstance(ctx, dict) else ctx)
    if args.sql:
        from railgun_spark.dfl.sqlgen import pipeline_sql_for_df

        print(pipeline_sql_for_df(df, args.dfl, "input", _parse_vars(args.dfl_vars)))
        return 0
    result = run_pipeline(df, args.dfl, _parse_vars(args.dfl_vars))
    if hasattr(result, "collect"):
        rows = [r.asDict(recursive=True) for r in result.collect()]
        out = rows[0] if isinstance(ctx, dict) and len(rows) == 1 else rows
        # a scalar expression compiles to a single `value` column — unwrap it
        if isinstance(out, dict) and list(out) == ["value"]:
            out = out["value"]
    else:
        out = result
    print(json.dumps(out, default=str))
    if isinstance(out, bool):
        return 0 if out else 1
    return 0


def cmd_serve(args) -> int:
    from railgun_spark.catalog.registry import Catalog
    from railgun_spark.server import create_app
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_serve")
    catalog = Catalog.load(spark, args.catalog_uri) if args.catalog_uri else Catalog(spark)
    create_app(catalog).run(host=args.address, port=args.port)
    return 0


def cmd_prepare(args) -> int:
    from railgun_spark.operators.corpus import prepare_training_shards
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_prepare")
    summary = prepare_training_shards(
        spark,
        args.input_dir,
        args.output_dir,
        max_tokens=args.max_tokens,
        records_per_shard=args.records_per_shard,
        n_buckets=args.buckets,
        redact_pii=args.redact_pii,
        remove_dup_spans=args.remove_dup_spans,
    )
    print(json.dumps(summary))
    return 0


def cmd_ingest(args) -> int:
    """Continual corpus ingestion: dedup new shards against the persisted
    fingerprint index (batch, or availableNow streaming with --stream).
    With --bucketed-table, the gate anti-joins a bucketed index table
    instead of the parquet path (shuffle-free on the index side)."""
    from railgun_spark.session import get_spark, pin
    from railgun_spark.streaming.ingest import (
        ingest_batch,
        stream_ingest_dedup_availablenow,
    )

    if not args.bucketed_table and not args.index:
        print("one of --index or --bucketed-table is required", file=sys.stderr)
        return 2
    if args.span_index and args.bucketed_table:
        print("--span-index is not supported with --bucketed-table", file=sys.stderr)
        return 2
    if args.modality in ("image", "audio", "video"):
        # perceptual-hash / fingerprint band gate over MEDIA_SCHEMA shards
        if args.bucketed_table or args.span_index:
            print(f"--modality {args.modality} supports --index gating only",
                  file=sys.stderr)
            return 2
        from railgun_spark.streaming import ingest as _ing

        if args.wide and args.modality != "image":
            print("--wide applies to --modality image only", file=sys.stderr)
            return 2
        if args.chunked and args.modality != "audio":
            print("--chunked applies to --modality audio only", file=sys.stderr)
            return 2
        from railgun_spark.operators.phash import FAMILIES

        family = FAMILIES[
            "image-wide" if args.wide
            else "audio-chunk" if args.chunked
            else args.modality
        ]
        if args.offset_tolerant and not family.positional:
            print("--offset-tolerant applies to --modality video or "
                  "--modality audio --chunked only", file=sys.stderr)
            return 2
        # every_n only affects the video family's frame sampling
        knobs = {"id_col": args.id_col, "every_n": args.every_n,
                 "offset_tolerant": args.offset_tolerant}
        spark = get_spark("railgun_ingest")
        if args.stream:
            admitted = _ing.stream_ingest_media_availablenow(
                spark, args.input_dir,
                index_path=args.index, sink_path=args.sink,
                checkpoint_dir=args.checkpoint or args.sink.rstrip("/") + "_checkpoint",
                family=family, **knobs,
            )
        else:
            admitted = _ing.ingest_media_batch(
                spark.read.parquet(args.input_dir), args.index, args.sink,
                family, **knobs,
            )
        print(json.dumps({"admitted": admitted}))
        return 0
    spark = get_spark("railgun_ingest")
    if args.bucketed_table:
        from railgun_spark.operators.dedup import (
            append_to_bucketed_index,
            dedup_against_bucketed_index,
        )

        if args.stream:
            print("--bucketed-table supports batch mode only", file=sys.stderr)
            return 2
        survivors = dedup_against_bucketed_index(
            spark.read.parquet(args.input_dir),
            args.bucketed_table,
            text_col=args.text_col,
            id_col=args.id_col,
        )
        survivors = pin(survivors, "cli.bucketed_survivors")
        survivors.drop("__h").write.mode("append").parquet(args.sink)
        append_to_bucketed_index(survivors, args.bucketed_table)
        print(json.dumps({"admitted": survivors.count()}))
        return 0
    if args.stream:
        schema = spark.read.parquet(args.input_dir).schema
        admitted = stream_ingest_dedup_availablenow(
            spark,
            args.input_dir,
            schema,
            index_path=args.index,
            sink_path=args.sink,
            checkpoint_dir=args.checkpoint or args.sink.rstrip("/") + "_checkpoint",
            text_col=args.text_col,
            id_col=args.id_col,
            span_index_path=args.span_index,
        )
    else:
        admitted = ingest_batch(
            spark.read.parquet(args.input_dir),
            args.index,
            args.sink,
            text_col=args.text_col,
            id_col=args.id_col,
            span_index_path=args.span_index,
        )
    print(json.dumps({"admitted": admitted}))
    return 0


def cmd_stats(args) -> int:
    """Corpus-health report over a documents directory: per-source quality/
    duplication, token-length histogram, cross-source shingle overlap —
    the per-ingest-wave monitoring queries (operators/reporting.py)."""
    from railgun_spark.operators.dedup import (
        containment_recall_report,
        lsh_recall_report,
    )
    from railgun_spark.operators.reporting import (
        cross_source_overlap,
        source_quality_report,
        span_dup_by_source,
        token_length_histogram,
    )
    from railgun_spark.operators.text import (
        unigram_logprob_quality,
        vocab_coverage_curve,
    )
    from railgun_spark.session import get_spark

    from railgun_spark.operators.multimodal import (
        media_refusal_report,
        mp3_refusal_report,
    )
    from railgun_spark.operators.phash import video_offset_coarse_recall
    from railgun_spark.operators.similarity import embedding_lsh_recall_report

    spark = get_spark("railgun_stats")
    sections = {
        "source_quality": source_quality_report,
        "token_length_histogram": token_length_histogram,
        "cross_source_overlap": cross_source_overlap,
        "containment_recall": containment_recall_report,
        "lsh_recall": lsh_recall_report,
        "embedding_lsh_recall": embedding_lsh_recall_report,
        # measured miss rate of the coarse (2x32) offset gate geometry
        # vs the lossless fine join, by planted heavy-frame level
        "video_offset_coarse_recall": video_offset_coarse_recall,
        "span_dup_by_source": span_dup_by_source,
        "vocab_coverage": vocab_coverage_curve,
        "unigram_outliers": unigram_logprob_quality,
        # decode coverage by refusal reason over the synthetic MP3 corpus;
        # real media corpora call operators.multimodal.mp3_decode_coverage
        # on their own (source, content) frame
        "mp3_refusal_coverage": mp3_refusal_report,
        # decode coverage across the whole codec matrix (image/audio/video)
        "media_refusal_coverage": media_refusal_report,
    }
    wanted = args.sections.split(",") if args.sections else list(sections)
    if args.sections is None:
        import os

        # the embedding canary needs embeddings.parquet; a documents-only
        # corpus dir should still get the full default report
        if not os.path.exists(f"{args.input_dir}/embeddings.parquet"):
            wanted.remove("embedding_lsh_recall")
    unknown = [w for w in wanted if w not in sections]
    if unknown:
        print(f"unknown sections {unknown}; choose from {sorted(sections)}", file=sys.stderr)
        return 2
    out = {
        name: [r.asDict() for r in sections[name](spark, args.input_dir).collect()]
        for name in wanted
    }
    print(json.dumps(out, indent=2 if args.pretty else None))
    return 0


def cmd_dedup(args) -> int:
    """Near-dup pair detection over a documents directory, written as
    parquet for downstream joins (pairs are big data — only the summary
    counts reach the driver). Methods:

      minhash     banded MinHash-LSH candidates + exact-Jaccard verify
                  (fast, ~1% false negatives — see lsh_recall_report)
      jaccard     LOSSLESS prefix-filtered exact Jaccard self-join
      containment LOSSLESS one-sided prefix filter, C = |A∩B|/|smaller|

    --survivors additionally resolves pairs into clusters (connected
    components, min-id survivor) for minhash/jaccard, or drops contained
    docs for containment, and writes the survivor table."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.dedup import (
        _docs_with_shingles,
        connected_components,
        containment_similarity_join,
        jaccard_similarity_join,
        minhash_dup_pairs,
    )
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_dedup")
    sf_dir = args.input_dir
    defaults = {"minhash": (1, 2), "jaccard": (4, 5), "containment": (9, 10)}
    tau_num = args.tau_num if args.tau_num is not None else defaults[args.method][0]
    tau_den = args.tau_den if args.tau_den is not None else defaults[args.method][1]

    if args.method == "minhash":
        # the LSH band config (NUM_BANDS x ROWS_PER_BAND) is tuned for the
        # J>=0.5 S-curve; a different tau only moves the VERIFY threshold,
        # so lower taus silently raise the false-negative rate (the bands
        # never surface the extra candidates). Warn instead of pretending.
        if abs(tau_num / tau_den - 0.5) > 0.05:
            print(
                f"warning: minhash bands are tuned for tau=0.5; at "
                f"tau={tau_num}/{tau_den} recall degrades along the LSH "
                f"S-curve — use --method jaccard for an exact join at "
                f"arbitrary thresholds",
                file=sys.stderr,
            )
        pairs = minhash_dup_pairs(spark, sf_dir, tau_num / tau_den)
    else:
        s = _docs_with_shingles(spark, sf_dir, hashed=True)
        if args.method == "jaccard":
            pairs = jaccard_similarity_join(s, "doc_id", "sh", tau_num, tau_den).select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                F.round("jaccard", 4).alias("jaccard"),
            )
        else:
            raw = containment_similarity_join(s, "doc_id", "sh", tau_num, tau_den)
            # equal-size tie-break matches dedup_containment_exact (and the
            # min-id-survivor rule of the other methods): the LOWER id is
            # the container/survivor — id_small by the join's tie-break
            tie = F.col("n_small") == F.col("n_big")
            pairs = raw.select(
                F.when(tie, F.col("id_big")).otherwise(F.col("id_small")).alias(
                    "doc_contained"
                ),
                F.when(tie, F.col("id_small")).otherwise(F.col("id_big")).alias(
                    "doc_container"
                ),
                F.round("containment", 4).alias("containment"),
            )
    pairs.write.mode("overwrite").parquet(f"{args.output_dir}/pairs")
    pairs = spark.read.parquet(f"{args.output_dir}/pairs")  # pin: avoid recompute below
    summary = {
        "method": args.method,
        "tau": f"{tau_num}/{tau_den}",
        "n_docs": spark.read.parquet(f"{sf_dir}/documents.parquet").count(),
        "n_pairs": pairs.count(),
        "n_survivors": None,
    }
    if args.survivors:
        if args.method == "containment":
            contained = pairs.select(F.col("doc_contained").alias("doc_id")).distinct()
            survivors = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id")
                .join(contained, "doc_id", "left_anti")
            )
        else:
            comp = connected_components(
                pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            )
            clustered = comp.groupBy("label").agg(F.min("node").alias("doc_id"))
            in_cluster = comp.select(F.col("node").alias("doc_id"))
            survivors = (
                spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id")
                .join(in_cluster, "doc_id", "left_anti")
                .unionByName(clustered.select("doc_id"))
            )
        survivors.write.mode("overwrite").parquet(f"{args.output_dir}/survivors")
        summary["n_survivors"] = spark.read.parquet(f"{args.output_dir}/survivors").count()
    print(json.dumps(summary))
    return 0


def cmd_verify_shards(args) -> int:
    """Check a prepared shard directory against its manifest (row counts
    and key ranges recomputed from the bytes on disk). Exit 1 on any
    mismatch — run after copying/moving a corpus, before training."""
    from railgun_spark.session import get_spark
    from railgun_spark.sources.sharding import verify_shards

    summary = verify_shards(
        get_spark("railgun_verify_shards"), args.dir, sort_key=args.sort_key
    )
    # sort keys may be dates/timestamps/decimals — the mismatch report
    # must print, not TypeError (write_manifest needs default=str too)
    print(json.dumps(summary, default=str))
    return 0 if summary["ok"] else 1


def cmd_decontam(args) -> int:
    """Benchmark decontamination against a SEPARATE eval corpus: flag
    training docs overlapping the eval set, write flags as parquet, print
    summary counts. Modes:

      pooled   n-gram overlap vs the union of all eval shingles
               (GPT-3-appendix-C shape; fast, no attribution)
      neardup  per-eval-doc Jaccard >= tau via the lossless cross-table
               prefix-filter join (exact leak attribution)
    """
    from fractions import Fraction

    from pyspark.sql import functions as F

    from railgun_spark.operators.dedup import (
        CONTAM_THRESHOLD,
        neardup_contamination,
        pooled_contamination,
        shingle_pool,
        shingle_sets,
    )
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_decontam")

    def shingled(path: str) -> "object":
        docs = spark.read.parquet(f"{path}/documents.parquet").select(
            F.col(args.id_col).alias("doc_id"), args.text_col
        )
        return shingle_sets(docs, "doc_id", text_col=args.text_col, hashed=True)

    tr, ev = shingled(args.input_dir), shingled(args.eval_dir)
    summary = {"mode": args.mode}
    if args.mode == "pooled":
        thr = args.threshold if args.threshold is not None else CONTAM_THRESHOLD
        summary["threshold"] = thr
        flags = pooled_contamination(tr, shingle_pool(ev), threshold=thr)
    else:
        if args.threshold is not None:
            # the prefix filter needs a RATIONAL tau; map the float exactly
            frac = Fraction(str(args.threshold)).limit_denominator(1000)
            if not (0 < frac <= 1):
                print(f"--threshold must be in (0, 1]: {args.threshold}", file=sys.stderr)
                return 2
            if abs(float(frac) - args.threshold) > 1e-9:
                print(
                    f"warning: --threshold {args.threshold} approximated as "
                    f"{frac.numerator}/{frac.denominator} = {float(frac):.6f} "
                    f"(the prefix filter needs a rational tau)",
                    file=sys.stderr,
                )
            flags = neardup_contamination(tr, ev, frac.numerator, frac.denominator)
            summary["tau_num"], summary["tau_den"] = frac.numerator, frac.denominator
        else:
            from railgun_spark.operators.dedup import (
                NEARDUP_CONTAM_DEN,
                NEARDUP_CONTAM_NUM,
            )

            flags = neardup_contamination(tr, ev)
            summary["tau_num"] = NEARDUP_CONTAM_NUM
            summary["tau_den"] = NEARDUP_CONTAM_DEN
    flags.write.mode("overwrite").parquet(args.output_dir)
    summary["n_flagged"] = spark.read.parquet(args.output_dir).count()
    print(json.dumps(summary))
    return 0


def cmd_media_features(args) -> int:
    """Decode a parquet of binary media rows (media_id/kind/content[/meta])
    through the library-free codec layer (images: PPM/PGM/PBM/BMP/PNG/GIF/
    TIFF/JPEG; audio: WAV/FLAC/AIFF/AU; video: Y4M/MJPEG-AVI) and write
    the feature frame; one Arrow hop, no codec libraries."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.multimodal import decode_media, extract_features
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_media")
    df = spark.read.parquet(args.input)
    missing = {"media_id", "kind", "content"} - set(df.columns)
    if missing:
        print(f"input is missing required columns: {sorted(missing)}", file=sys.stderr)
        return 2
    if "meta" not in df.columns:
        df = df.withColumn("meta", F.create_map().cast("map<string,string>"))
    df = df.select("media_id", "kind", "content", "meta")
    feats = extract_features(df, decoder=decode_media, require_real=True)
    feats.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    counts = {
        r["kind"]: r["n"]
        for r in out.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(json.dumps({"n_media": out.count(), "by_kind": counts}))
    return 0


def cmd_ann(args) -> int:
    """Persistent-IVF ANN over an embeddings parquet: `build` writes the
    centroid-partitioned inverted lists, `append` grows them with the
    stored quantizer, `search` runs a partition-pruned batch query and
    writes the per-query top-k, `compact` folds replay duplicates, and
    `info` reports the stored layout (kind, geometry, encoding, rows,
    list-balance skew) as one JSON line."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        PQ_KS,
        PQ_M,
        IVFSpec,
        _centroid_rows,
        append_to_index,
        build_index,
        compact_ivf_index,
        residual_frame,
        search_index,
        to_double,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_ann")
    if args.action == "compact":
        n = compact_ivf_index(spark, args.index)
        print(json.dumps({"rows": n}))
        return 0
    if args.action == "info":
        from railgun_spark.operators.similarity import (
            _ivf_has,
            _pq_geometry,
            _read_quantizer,
        )

        # codebooks/ is the PQ marker; works on remote schemes too
        is_pq = _ivf_has(spark, args.index, "codebooks")
        cents, books, encoding = _read_quantizer(spark, args.index, is_pq)
        sizes = {
            int(r["cid"]): int(r["n"])
            for r in spark.read.parquet(f"{args.index}/vecs")
            .groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        rows = sum(sizes.values())
        mean = rows / max(1, len(sizes))
        info = {
            "pq": is_pq,
            "k": len(cents),
            "rows": rows,
            "nonempty_lists": len(sizes),
            # list-balance health: skew predicts probe-cost variance
            # (a hot list makes every probe that hits it pay its size)
            "max_list": max(sizes.values(), default=0),
            "mean_list": round(mean, 1),
            "skew_max_over_mean": round(
                max(sizes.values(), default=0) / mean, 2
            ) if rows else 0.0,
        }
        if is_pq:
            # geometry derives from the stored codebooks, never flags
            ms, _, ks = _pq_geometry(books)
            info.update({
                "pq_m": len(ms),
                "pq_ks": ks,
                "encoding": encoding,
                "store_raw": _ivf_has(spark, args.index, "raw"),
            })
        print(json.dumps(info))
        return 0
    if not args.input:
        print(f"ann {args.action} requires --input", file=sys.stderr)
        return 2

    def load_vecs(path: str, id_alias: str = "vec_id"):
        df = spark.read.parquet(path)
        missing = {args.id_col, args.vec_col} - set(df.columns)
        if missing:
            print(f"input is missing required columns: {sorted(missing)}",
                  file=sys.stderr)
            return None
        label = (
            F.col("label") if "label" in df.columns else F.lit(None).cast("int")
        )
        return df.select(
            F.col(args.id_col).alias(id_alias),
            label.alias("label"),
            to_double(F.col(args.vec_col)).alias("v"),
        )

    if args.action == "build":
        vecs = load_vecs(args.input)
        if vecs is None:
            return 2
        if args.store_raw and not args.pq:
            print("--store-raw only applies to --pq builds (a raw IVF "
                  "index already stores exact vectors)", file=sys.stderr)
            return 2
        if ((args.pq_m or args.pq_ks or args.pq_train_iters
             or args.pq_residual) and not args.pq):
            print("--pq-m/--pq-ks/--pq-train-iters/--pq-residual only "
                  "apply to --pq builds", file=sys.stderr)
            return 2
        spec = IVFSpec(
            k=args.k, m=(args.pq_m or PQ_M) if args.pq else 0,
            ks=args.pq_ks or PQ_KS, residual=bool(args.pq_residual),
            store_raw=bool(args.store_raw),
        )
        cents = None
        train_sample = None if args.train_sample == -1 else args.train_sample
        if args.train_iters:
            cents = train_ivf_centroids(vecs, k=args.k,
                                        iters=args.train_iters,
                                        sample=train_sample)
        books = None
        if args.pq and args.pq_train_iters:
            train_on = vecs
            if args.pq_residual:
                train_on = residual_frame(
                    vecs, cents or _centroid_rows(vecs, args.k)
                )
            books = train_pq_codebooks(
                train_on, m=spec.m, ks=spec.ks, iters=args.pq_train_iters,
                sample=train_sample,
            )
        n = build_index(vecs, args.index, spec, centroids=cents, codebooks=books)
        # report the EFFECTIVE geometry (defaults resolved), so the
        # recorded build metadata agrees with what `ann info` later
        # derives from the stored codebooks
        print(json.dumps({"indexed": n, "k": spec.k, "pq": spec.pq,
                          "store_raw": spec.store_raw,
                          "train_iters": args.train_iters,
                          "pq_m": spec.m or None,
                          "pq_ks": spec.ks if spec.pq else None,
                          "pq_train_iters": args.pq_train_iters,
                          "pq_residual": spec.residual}))
        return 0
    if args.action == "append":
        vecs = load_vecs(args.input)
        if vecs is None:
            return 2
        n = append_to_index(vecs, args.index, pq=bool(args.pq))
        print(json.dumps({"appended": n}))
        return 0
    # search
    if not args.output:
        print("ann search requires --output", file=sys.stderr)
        return 2
    queries = load_vecs(args.input, id_alias="qid")
    if queries is None:
        return 2
    if args.rerank and not args.pq:
        print("--rerank only applies to --pq searches (raw IVF already "
              "ranks by exact cosine)", file=sys.stderr)
        return 2
    hits = search_index(
        spark, queries, args.index, pq=bool(args.pq), nprobe=args.nprobe,
        rerank=args.rerank, topk=args.topk,
    )
    hits.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    print(json.dumps({
        "n_queries": out.select("qid").distinct().count(),
        "n_hits": out.count(),
        "nprobe": args.nprobe,
        "topk": args.topk,
    }))
    return 0


def cmd_tokenize(args) -> int:
    """BPE tokenization pipeline: train merges on the corpus (or load a
    saved merge list), encode every document at vocab-sized cost
    (text.bpe_encode), write (id, tokens, n_tokens) parquet, print a
    summary JSON line."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.text import bpe_encode, bpe_train
    from railgun_spark.session import get_spark

    spark = get_spark("railgun_tokenize")
    if args.merges_file:
        with open(args.merges_file) as f:
            merges = [tuple(m) for m in json.load(f)]
        if not all(len(m) == 2 for m in merges):
            print("--merges-file must be a JSON list of [left, right] pairs", file=sys.stderr)
            return 2
    else:
        merges = bpe_train(spark, args.input_dir, n_merges=args.n_merges)
    if args.save_merges:
        with open(args.save_merges, "w") as f:
            json.dump([list(m) for m in merges], f)
    docs = spark.read.parquet(f"{args.input_dir}/documents.parquet")
    enc = bpe_encode(docs, merges, text_col=args.text_col, id_col=args.id_col).select(
        args.id_col, "tokens", F.size("tokens").alias("n_tokens")
    )
    enc.write.mode("overwrite").parquet(args.output_dir)
    out = spark.read.parquet(args.output_dir)
    summary = out.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    ).collect()[0]
    print(
        json.dumps(
            {
                "n_docs": summary["n_docs"],
                "total_tokens": summary["total_tokens"],
                "n_merges": len(merges),
            }
        )
    )
    return 0


def client_mod_collections() -> tuple[str, ...]:
    from railgun_spark.client import COLLECTIONS

    return COLLECTIONS


def _client_payload(raw: str | None) -> dict | None:
    """--json accepts an inline object, @file, or '-' for stdin."""
    if raw is None:
        return None
    if raw == "-":
        raw = sys.stdin.read()
    elif raw.startswith("@"):
        with open(raw[1:]) as f:
            raw = f.read()
    obj = json.loads(raw)
    if not isinstance(obj, dict):
        raise SystemExit("--json must be a JSON object")
    return obj


def cmd_client(args) -> int:
    """`railgun client` twin (reference railgun/cli/client.go:317-559):
    authenticate + per-collection add/get/update/delete/list/exec against
    a running server, bearer token from --jwt-token or $RAILGUN_JWT_TOKEN."""
    import os

    from railgun_spark.client import ClientError, RailgunClient

    client = RailgunClient(
        server=args.server,
        token=args.jwt_token or os.environ.get("RAILGUN_JWT_TOKEN"),
        ext=args.output_format,
    )
    try:
        if args.collection == "authenticate":
            if not args.username or not args.password:
                raise SystemExit("authenticate requires --username and --password")
            print(client.authenticate(args.username, args.password))
            return 0
        if not args.action:
            raise SystemExit(f"an action is required for {args.collection}")
        payload = _client_payload(args.payload)
        if args.action == "list":
            out = client.list(args.collection)
        elif args.action == "add":
            if payload is None:
                raise SystemExit("add requires --json")
            out = client.add(args.collection, payload)
        else:
            if not args.name:
                raise SystemExit(f"{args.action} requires --name")
            if args.action == "get":
                out = client.get(args.collection, args.name)
            elif args.action == "update":
                if payload is None:
                    raise SystemExit("update requires --json")
                out = client.update(args.collection, args.name, payload)
            elif args.action == "delete":
                out = client.delete(args.collection, args.name)
            else:  # exec
                out = client.exec(args.collection, args.name, payload)
        print(out)
        return 0
    except ClientError as e:
        print(e.body or str(e), file=sys.stderr)
        return 1
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 1
    except OSError as e:  # connection refused, DNS, timeouts
        print(f"cannot reach {args.server}: {e}", file=sys.stderr)
        return 1


def cmd_functions(args) -> int:
    from railgun_spark.functions import functions

    print(json.dumps(functions(), indent=2 if args.pretty else None))
    return 0


def cmd_formats(args) -> int:
    from railgun_spark.sources.formats import FORMATS

    print(json.dumps(sorted(FORMATS)))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="railgun_spark", description="a Spark-native data processing engine"
    )
    ap.add_argument("--version", action="version", version=__version__)
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("process", help="read objects, evaluate DFL, write output")
    _add_common_io(p)
    p.add_argument("--dfl", default=None, help="DFL expression (batch pipeline)")
    p.add_argument("--dfl-vars", default=None, help="variables as a JSON object")
    p.add_argument(
        "--stream",
        action="store_true",
        help="per-object semantics: null expression results drop rows",
    )
    p.set_defaults(fn=cmd_process)

    p = sub.add_parser("convert", help="convert between serialization formats")
    p.add_argument("--input-uri", required=True)
    p.add_argument("--output-uri", required=True)
    p.set_defaults(fn=cmd_convert)

    p = sub.add_parser("eval", help="evaluate a DFL expression against a context object")
    p.add_argument("--dfl", required=True)
    p.add_argument("--dfl-vars", default=None)
    p.add_argument("--context", default=None, help="JSON object or array")
    p.add_argument("--sql", action="store_true", help="print compiled Spark SQL, don't evaluate")
    p.set_defaults(fn=cmd_eval)

    p = sub.add_parser("serve", help="run the catalog + query HTTP server")
    p.add_argument("--catalog-uri", default=None, help="catalog json/yaml to load")
    p.add_argument("--address", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.set_defaults(fn=cmd_serve)

    p = sub.add_parser(
        "prepare",
        help="training-data preparation: clean -> split -> pack -> shard+manifest",
    )
    p.add_argument("--input-dir", required=True, help="dir with documents.parquet")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--max-tokens", type=int, default=2048)
    p.add_argument("--records-per-shard", type=int, default=1_000_000)
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="replace emails/IPs/phone-like runs with <NAME> placeholders "
        "after the split (membership stays content-hash stable)",
    )
    p.add_argument(
        "--remove-dup-spans",
        action="store_true",
        help="cut cross-doc duplicated 10-word spans from shipped train "
        "text (Lee et al. removal) after the split; docs rewritten to "
        "nothing are dropped",
    )
    p.set_defaults(fn=cmd_prepare)

    p = sub.add_parser(
        "ingest",
        help="dedup arriving shards against the fingerprint index, append survivors",
    )
    p.add_argument("--input-dir", required=True, help="dir of arriving parquet shards")
    p.add_argument("--index", required=False, default=None,
                   help="fingerprint index path (grows append-only)")
    p.add_argument("--bucketed-table", default=None,
                   help="bucketed index table name (from bucketize_index); "
                   "replaces --index, batch mode only")
    p.add_argument("--sink", required=True, help="corpus sink path")
    p.add_argument("--stream", action="store_true", help="drain via Structured Streaming (availableNow)")
    p.add_argument("--checkpoint", default=None, help="stream checkpoint dir (default: <sink>_checkpoint)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--span-index", default=None,
        help="window-hash index path: also reject docs assembled mostly "
        "from 10-word spans already in history (batch or --stream)",
    )
    p.add_argument(
        "--modality", choices=("text", "image", "audio", "video"),
        default="text",
        help="image/audio/video: gate MEDIA_SCHEMA shards through the "
        "perceptual-hash (dHash) / energy-delta fingerprint / per-frame "
        "signature band index instead of the text content-hash gate; "
        "use --id-col media_id for MEDIA_SCHEMA shards and a separate "
        "index path per modality",
    )
    p.add_argument(
        "--wide", action="store_true",
        help="with --modality image: gate through the 256-bit block-dHash "
        "index (verified hamming <= 15; separate 'image-wide' index path)",
    )
    p.add_argument(
        "--offset-tolerant", action="store_true",
        help="with --modality video (or audio + --chunked): also reject "
        "trimmed/padded copies via the per-offset vote (same index as the "
        "aligned gate)",
    )
    p.add_argument(
        "--chunked", action="store_true",
        help="with --modality audio: gate through per-chunk fingerprints "
        "(mod='audio-chunk' index layout — separate path from the "
        "whole-clip gate; required for --offset-tolerant audio)",
    )
    p.add_argument(
        "--every-n", type=int, default=10,
        help="with --modality video: hash every n-th frame (must stay "
        "constant for one index's lifetime; default 10)",
    )
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser(
        "stats", help="corpus-health report (quality/dups/token-lengths/overlap)"
    )
    p.add_argument("--input-dir", required=True, help="dir containing documents.parquet")
    p.add_argument(
        "--sections",
        default=None,
        help="comma list: source_quality, token_length_histogram, "
        "cross_source_overlap, containment_recall, lsh_recall, "
        "embedding_lsh_recall, "
        "span_dup_by_source, vocab_coverage, unigram_outliers, "
        "mp3_refusal_coverage, media_refusal_coverage",
    )
    p.add_argument("--pretty", action="store_true")
    p.set_defaults(fn=cmd_stats)

    p = sub.add_parser(
        "dedup",
        help="near-dup pair detection (minhash/jaccard/containment) + "
        "optional cluster survivors, written as parquet",
    )
    p.add_argument("--input-dir", required=True, help="dir containing documents.parquet")
    p.add_argument("--output-dir", required=True)
    p.add_argument(
        "--method", choices=("minhash", "jaccard", "containment"), default="minhash"
    )
    p.add_argument(
        "--tau-num", type=int, default=None,
        help="threshold numerator (defaults: minhash 1/2, jaccard 4/5, containment 9/10)",
    )
    p.add_argument("--tau-den", type=int, default=None)
    p.add_argument(
        "--survivors", action="store_true",
        help="also resolve clusters and write the survivor doc_id table",
    )
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser(
        "verify-shards",
        help="check a prepared shard dir against its manifest "
        "(recomputed row counts + key ranges); exit 1 on mismatch",
    )
    p.add_argument("--dir", required=True, help="prepare output dir (shards/ + manifest.jsonl)")
    p.add_argument("--sort-key", default="bin_id")
    p.set_defaults(fn=cmd_verify_shards)

    p = sub.add_parser(
        "decontam",
        help="flag training docs overlapping a separate eval corpus "
        "(pooled n-gram overlap, or per-eval-doc near-dup attribution)",
    )
    p.add_argument("--input-dir", required=True, help="training corpus (documents.parquet)")
    p.add_argument("--eval-dir", required=True, help="eval corpus (documents.parquet)")
    p.add_argument("--output-dir", required=True, help="flags parquet destination")
    p.add_argument("--mode", choices=("pooled", "neardup"), default="pooled")
    p.add_argument(
        "--threshold", type=float, default=None,
        help="flag threshold: pooled overlap fraction (default 0.1) or "
        "neardup Jaccard (default 0.7)",
    )
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_decontam)

    p = sub.add_parser(
        "client",
        help="drive a running railgun_spark server over HTTP "
        "(authenticate / CRUD / exec)",
    )
    p.add_argument(
        "--server", default="http://localhost:8080", help="server base URL"
    )
    p.add_argument(
        "--jwt-token",
        default=None,
        help="bearer token for mutations (default: $RAILGUN_JWT_TOKEN)",
    )
    p.add_argument(
        "--output-format", default="json", help="response extension (json/yaml/...)"
    )
    p.add_argument(
        "collection",
        choices=("authenticate",) + client_mod_collections(),
        help="'authenticate' or a catalog collection",
    )
    p.add_argument(
        "action",
        nargs="?",
        choices=("list", "get", "add", "update", "delete", "exec"),
        help="collection action (omit for authenticate)",
    )
    p.add_argument("--name", default=None, help="item name (get/update/delete/exec)")
    p.add_argument(
        "--json",
        dest="payload",
        default=None,
        help="item payload as a JSON object, or @file, or '-' for stdin "
        "(add/update; exec variables)",
    )
    p.add_argument("--username", default=None, help="authenticate username")
    p.add_argument("--password", default=None, help="authenticate password")
    p.set_defaults(fn=cmd_client)

    p = sub.add_parser(
        "media-features",
        help="decode binary media parquet (images/audio/video) into the "
        "feature frame via the library-free codecs",
    )
    p.add_argument("--input", required=True, help="parquet with media_id/kind/content")
    p.add_argument("--output", required=True)
    p.set_defaults(fn=cmd_media_features)

    p = sub.add_parser(
        "tokenize",
        help="BPE-tokenize a corpus: train merges (or load them), write "
        "(id, tokens, n_tokens) parquet",
    )
    p.add_argument("--input-dir", required=True, help="dir with documents.parquet")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--n-merges", type=int, default=50)
    p.add_argument("--merges-file", default=None, help="load merges from JSON instead of training")
    p.add_argument("--save-merges", default=None, help="write the trained merges to JSON")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(fn=cmd_tokenize)

    p = sub.add_parser(
        "ann",
        help="persistent-IVF ANN: build/append centroid-partitioned "
        "inverted lists, or run a partition-pruned batch search",
    )
    p.add_argument("action",
                   choices=("build", "append", "search", "compact", "info"))
    p.add_argument("--input", default=None,
                   help="embeddings parquet (build/append: vectors to index; "
                   "search: query vectors; unused for compact/info)")
    p.add_argument("--index", required=True, help="IVF index root path")
    p.add_argument("--output", default=None,
                   help="search: parquet for the per-query top-k")
    p.add_argument("--k", type=int, default=8,
                   help="build: number of coarse centroids (default 8)")
    p.add_argument("--nprobe", type=int, default=2,
                   help="search: inverted lists probed per query (default 2)")
    p.add_argument("--topk", type=int, default=10)
    p.add_argument("--id-col", dest="id_col", default="vec_id")
    p.add_argument("--vec-col", dest="vec_col", default="embedding")
    p.add_argument("--pq", action="store_true",
                   help="IVF-PQ layout: inverted lists store PQ codes only "
                   "and search scores by ADC (build/append/search must all "
                   "use the same flag for one index)")
    p.add_argument("--store-raw", dest="store_raw", action="store_true",
                   help="build --pq: also store raw vectors under the same "
                   "cid partitioning so searches can --rerank (appends grow "
                   "the raw store automatically; compact folds it)")
    p.add_argument("--train-iters", dest="train_iters", type=int, default=0,
                   help="build: Lloyd-train the coarse quantizer for N "
                   "iterations before indexing (recall-efficient pruning "
                   "on clustered data; default 0 = first-K quantizer)")
    p.add_argument("--train-sample", dest="train_sample", type=int,
                   default=0,
                   help="build: bound the Lloyd training input to ~N "
                   "vectors (deterministic vec_id-hash sample; applies to "
                   "--train-iters and --pq-train-iters). Default 0 = auto "
                   "(max(256 per centroid/codeword, 100k)); -1 trains on "
                   "the full corpus")
    p.add_argument("--rerank", type=int, default=0,
                   help="search --pq: re-score the ADC top-R shortlist by "
                   "exact cosine against the stored raw vectors (needs a "
                   "--store-raw build)")
    p.add_argument("--pq-m", dest="pq_m", type=int, default=0,
                   help="build --pq: subspaces per vector (default 4; a "
                   "production build wants 8 — search/append derive the "
                   "geometry from the stored codebooks)")
    p.add_argument("--pq-ks", dest="pq_ks", type=int, default=0,
                   help="build --pq: codewords per sub-codebook (default 4; "
                   "a production build wants 256 = 8 bits/code)")
    p.add_argument("--pq-train-iters", dest="pq_train_iters", type=int,
                   default=0,
                   help="build --pq: Lloyd-train each sub-codebook for N "
                   "iterations (default 0 = first-Ks codewords; trained "
                   "codebooks are what make ADC-only recall useful)")
    p.add_argument("--pq-residual", dest="pq_residual", action="store_true",
                   help="build --pq: IVFADC form — encode v - centroid(cid) "
                   "so the sub-codebooks resolve intra-list structure; "
                   "search derives per-(query, list) residual lookup "
                   "tables from the stored meta/ automatically")
    p.set_defaults(fn=cmd_ann)

    p = sub.add_parser("functions", help="list DFL functions")
    p.add_argument("--pretty", action="store_true")
    p.set_defaults(fn=cmd_functions)

    p = sub.add_parser("formats", help="list serialization formats")
    p.set_defaults(fn=cmd_formats)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
