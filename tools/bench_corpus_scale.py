"""Size-stability benchmark: the heavy end-to-end paths at multi-million-doc
corpus sizes (the inductive evidence behind the 100-TB posture; numbers
recorded in BENCH.md).

Generates the corpus PARTITION-PARALLEL via the ccsynth Python Data Source
(seed-keyed per doc → bit-identical at any partition count), then times at
local[32]:

* full QC pipeline (scan-fused stats+scrub, best of 2 warm passes)
* MinHash-LSH near-dup over the whole corpus
* checkpointed lineage run (single-pass partitionBy write, 16 buckets)

Also measures the SKEW-ADVERSARIAL posture (``--skew-docs N``): a corpus
where one boilerplate template fills 30% of all documents — the worst case
for banded LSH — run through the ``max_bucket``-guarded near-dup pipeline
and compared against a uniform corpus of the same size.

Emits ONE JSON line to stdout AND (``--out``, default
``BENCH_CORPUS.json`` at the repo root) a machine-readable record that
``tools/bench_compare.py`` can diff round-over-round — the 4M-doc numbers
get the same regression guardrail as the sf0.1 suite.

Usage: PYTHONPATH=/root/repo python tools/bench_corpus_scale.py [--docs 4000000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from longqc_spark.ccsource import CCSynthDataSource  # noqa: E402
from longqc_spark.lineage import run_qc_with_lineage  # noqa: E402
from longqc_spark.operators.dedup import minhash_jaccard_estimate  # noqa: E402
from longqc_spark.pipeline import qc_pipeline  # noqa: E402
from longqc_spark.session import get_spark  # noqa: E402

DATA_CC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data_cc")


def boilerplate_docs(spark, n: int, flood_frac: float = 0.3):
    """Distributed skew-adversarial corpus: ``flood_frac`` of docs are ONE
    template; the rest get 30 deterministic pseudo-words (sha2-derived,
    JVM-side — no driver materialization)."""
    template = (
        "cookie consent required this website uses cookies to improve your "
        "experience please accept our policy terms and conditions apply "
        "all rights reserved contact us about privacy settings"
    )
    words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.substring(F.sha2(F.concat(F.col("id").cast("string"), i.cast("string")), 256), 1, 8),
    )
    return spark.range(n).select(
        F.col("id").alias("url"),
        F.when(F.pmod("id", 10) < int(flood_frac * 10), F.lit(template))
        .otherwise(F.concat_ws(" ", words))
        .alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=4_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--skew-docs", type=int, default=1_000_000)
    ap.add_argument(
        "--out",
        default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_CORPUS.json"),
    )
    ap.add_argument(
        "--only",
        nargs="*",
        default=None,
        help="run only the named sections (qc_pipeline minhash_lsh lineage "
        "incremental_dedup bloom_dedup decontaminate corpus_line_dedup "
        "c4_clean block_extract fix_encoding latest_crawl mirror host_boilerplate blocklist neardup keep_best pack_seqs "
        "pack_rows neardup_keep_best curate_full scrub_spans skew "
        "skew_onesided charset "
        "zipf image_neardup bpe knlm knlm_tri nbayes hash_kmeans cc_star) "
        "and MERGE "
        "their keys "
        "into an existing --out record instead of overwriting it",
    )
    args = ap.parse_args()
    only = set(args.only or [])

    def want(name: str) -> bool:
        return not only or name in only

    spark = get_spark("corpus-scale", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))

    path = os.path.join(DATA_CC, f"documents_cc_{args.docs // 1_000_000}m")
    out = {"n_docs": args.docs, "cores": args.cores}
    if not os.path.exists(path):
        spark.dataSource.register(CCSynthDataSource)
        t0 = time.time()
        (
            spark.read.format("ccsynth")
            .option("n_docs", args.docs)
            .option("seed", 42)
            .option("num_partitions", 128)
            .load()
            .write.mode("overwrite")
            .parquet(path)
        )
        out["generate_sec"] = round(time.time() - t0, 1)

    docs = spark.read.parquet(path)
    if want("qc_pipeline"):
        best = float("inf")
        for i in range(3):  # pass 0 = warm-up
            t0 = time.time()
            qc_pipeline(docs, num_partitions=0).agg(
                F.count(F.lit(1)), F.count_if(F.col("keep"))
            ).collect()
            if i:
                best = min(best, time.time() - t0)
        out["qc_pipeline"] = {"sec": round(best, 1), "docs_per_sec": round(args.docs / best)}

    if want("minhash_lsh"):
        t0 = time.time()
        minhash_jaccard_estimate(docs, key_col="url", threshold=0.5).count()
        dt = time.time() - t0
        out["minhash_lsh"] = {"sec": round(dt, 1), "docs_per_sec": round(args.docs / dt)}

    if want("lineage"):
        tmp = tempfile.mkdtemp(prefix="qc_scale_")
        try:
            t0 = time.time()
            run_qc_with_lineage(docs, tmp, n_buckets=16)
            dt = time.time() - t0
            out["lineage_16buckets"] = {"sec": round(dt, 1), "docs_per_sec": round(args.docs / dt)}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # -- incremental cross-run dedup at corpus scale (VERDICT r3 item 4):
    # a 'committed run' = 1/3 of the corpus's digests (the projected,
    # distinct payload_md5 column a real run leaves in its label store), a
    # 're-crawl batch' = 1/2 of the corpus overlapping it; both sides are
    # corpus-scale, so the anti-join shuffles on the digest (no broadcast
    # assumption). Reference analog: the spike-in filter job
    # (``longQC.py:553-592``). --
    from longqc_spark.operators.dedup import contamination_check, incremental_dedup

    if want("incremental_dedup"):
        h = F.pmod(F.xxhash64("url"), F.lit(6))
        committed = docs.filter(h.isin(0, 2, 4)).select(
            F.md5(F.col("text").cast("binary")).alias("payload_md5")
        )
        batch = docs.filter(h.isin(0, 1, 3))
        n_batch = batch.count()
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_admitted = incremental_dedup(batch, committed, key_col="url", text_col="text").count()
            best = min(best, time.time() - t0)
        out["incremental_dedup"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(n_batch / best),
            "n_batch": n_batch,
            "n_admitted": n_admitted,
        }

    # -- Bloom-prefiltered variant of the cross-run dedup, in BOTH regimes:
    # (a) symmetric (same fixture as incremental_dedup above — batch ≈
    # corpus, the regime where the prefilter CANNOT win: the extra
    # bloom-build scan + probe pass cost more than a cheap local shuffle),
    # and (b) the asymmetric regime it exists for — the full corpus's
    # digests vs a small re-crawl batch, where the exact path must shuffle
    # all corpus digests and the bloom path shuffles only maybe-hits. Each
    # asymmetric variant is timed against the exact path on the SAME
    # fixture; admitted counts must agree exactly. --
    if want("bloom_dedup"):
        h = F.pmod(F.xxhash64("url"), F.lit(6))
        committed = docs.filter(h.isin(0, 2, 4)).select(
            F.md5(F.col("text").cast("binary")).alias("payload_md5")
        )
        batch = docs.filter(h.isin(0, 1, 3))
        n_batch = batch.count()
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_admitted = incremental_dedup(
                batch, committed, key_col="url", text_col="text", bloom_fpp=1e-3
            ).count()
            best = min(best, time.time() - t0)
        out["bloom_dedup_symmetric"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(n_batch / best),
            "n_batch": n_batch,
            "n_admitted": n_admitted,
        }

        corpus_digests = docs.select(
            F.md5(F.col("text").cast("binary")).alias("payload_md5")
        )
        small = docs.filter(F.pmod(F.xxhash64("url"), F.lit(64)) == 0)
        n_small = small.count()
        for tag, fpp in (("exact", None), ("bloom", 1e-3)):
            best = float("inf")
            for i in range(2):  # pass 0 = warm-up
                t0 = time.time()
                n_adm = incremental_dedup(
                    small, corpus_digests, key_col="url", text_col="text",
                    bloom_fpp=fpp,
                ).count()
                best = min(best, time.time() - t0)
            out[f"bloom_dedup_smallbatch_{tag}"] = {
                "sec": round(best, 1),
                "docs_per_sec": round(n_small / best),
                "n_batch": n_small,
                "n_admitted": n_adm,
            }

    # -- decontamination at corpus scale: 2k-doc eval set vs the full
    # corpus; the eval shingle set broadcasts, the corpus never shuffles --
    if want("decontaminate"):
        eval_df = (
            docs.filter(F.pmod(F.xxhash64("url"), F.lit(max(args.docs // 2000, 1))) == 0)
            .select(F.col("url").alias("eval_id"), "text")
            .cache()
        )
        n_eval = eval_df.count()
        best = float("inf")
        for i in range(2):
            t0 = time.time()
            n_hits = contamination_check(docs, eval_df, key_col="url", text_col="text").count()
            best = min(best, time.time() - t0)
        eval_df.unpersist()
        out["decontaminate"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_eval": n_eval,
            "n_hits": n_hits,
        }

    # -- C4-style GLOBAL line dedup at corpus scale: the one web-hygiene op
    # that must see every line twice (count pass keyed by 16-byte md5 +
    # reassembly pass keyed by doc). Docs are re-lined every 8 words; the
    # corpus-frequency cut is min_docs=50. The ccsynth corpus embeds
    # repeated boilerplate sentences, so the heavy set is non-empty and the
    # anti-join actually drops lines. --
    if want("corpus_line_dedup"):
        from longqc_spark.operators.web import corpus_line_dedup

        lined = docs.withColumn(
            "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n")
        )
        best = float("inf")
        dropped = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            row = (
                corpus_line_dedup(lined, text_col="text", key_col="url", min_docs=50)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("text")).alias("kept_chars"),
                )
                .collect()[0]
            )
            best = min(best, time.time() - t0)
        before = lined.agg(F.sum(F.length("text"))).collect()[0][0]
        dropped = before - row["kept_chars"]
        out["corpus_line_dedup"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "chars_dropped": int(dropped),
        }

    # -- robots opt-out gate + jusText-lite block extraction over the REAL
    # html column (the ccsynth corpus stores the rendered page bytes): both
    # are scan-fused JVM expressions, so this measures the raw
    # decode+regex rate of the consent gate and the block scorer — the
    # heaviest pure-map stage a crawl pays before any text work. --
    if want("block_extract"):
        from longqc_spark.operators.web import block_extract, robots_optout_filter

        best = float("inf")
        for i in range(3):  # pass 0 = warm-up
            t0 = time.time()
            row = (
                block_extract(
                    robots_optout_filter(docs),
                    html_col="html",
                    text_col="btext",
                    min_words=2,
                    max_link_density=0.5,
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("btext")).alias("kept_chars"),
                )
                .collect()[0]
            )
            if i:
                best = min(best, time.time() - t0)
        out["block_extract"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_pages": int(row["n"]),
            "kept_chars": int(row["kept_chars"]),
        }

    # -- C4 line-level heuristic cleaning at corpus scale: three narrow
    # page-gate filters + one split-array line filter, all scan-fused JVM
    # expressions — the zero-shuffle posture means docs/s should track the
    # raw scan+regex rate. Docs are re-lined every 8 words and every
    # even-length line gets terminal punctuation, so both the line rules
    # and the post-clean sentence gate do real work. --
    if want("c4_clean"):
        from longqc_spark.operators.web import c4_clean

        # Seeding (re-line every 8 words, terminal-punctuate even-length
        # lines) is MATERIALIZED to a temp parquet first: the seeding
        # regexes cost more than the operator, and timing them would grade
        # the fixture, not c4_clean.
        lined_path = tempfile.mkdtemp(prefix="c4_lined_")
        try:
            (
                docs.withColumn(
                    "text", F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n")
                )
                .withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split("text", r"\n"),
                            lambda l: F.when(
                                F.length(l) % 2 == 0, F.concat(l, F.lit("."))
                            ).otherwise(l),
                        ),
                        "\n",
                    ),
                )
                .write.mode("overwrite")
                .parquet(lined_path)
            )
            lined = spark.read.parquet(lined_path)
            best = float("inf")
            for i in range(3):  # pass 0 = warm-up
                t0 = time.time()
                row = (
                    c4_clean(lined, text_col="text", min_words=4, min_sentences=2)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("text")).alias("kept_chars"),
                    )
                    .collect()[0]
                )
                if i:
                    best = min(best, time.time() - t0)
            before = lined.agg(F.sum(F.length("text"))).collect()[0][0]
        finally:
            shutil.rmtree(lined_path, ignore_errors=True)
        out["c4_clean"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_pages_kept": int(row["n"]),
            "chars_dropped": int(before - row["kept_chars"]),
        }

    # -- ftfy-style encoding repair at corpus scale: a pure map fused into
    # the scan. Two postures: the ccsynth corpus as-is (ASCII-clean — the
    # lead-char gate short-circuits every row, the production common case)
    # and the same corpus with mojibake injected into every 8th doc (the
    # damaged fraction pays the replace chain). The gap between the two IS
    # the gate's value. --
    if want("fix_encoding"):
        from longqc_spark.operators.text import _sloppy_cp1252, fix_mojibake_expr

        dam_suffix = _sloppy_cp1252(" — café’s naïve Ÿ €…".encode("utf-8"))
        rec = {}
        for tag, src in (
            ("clean", docs),
            (
                "damaged_12pct",
                docs.withColumn(
                    "text",
                    F.when(
                        F.pmod(F.xxhash64("url"), F.lit(8)) == 0,
                        F.concat(F.col("text"), F.lit(dam_suffix)),
                    ).otherwise(F.col("text")),
                ),
            ),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                src.select(
                    F.sum(F.length(fix_mojibake_expr("text"))).alias("n")
                ).collect()
                best = min(best, time.time() - t0)
            rec[tag] = {
                "sec": round(best, 1),
                "docs_per_sec": round(args.docs / best),
            }
        out["fix_encoding"] = rec

    # -- snapshot collapse at corpus scale: one window shuffle keyed by the
    # canonical URL. Synthetic multi-snapshot recrawl: page identity is
    # folded to ~n/3 canonical pages (each fetched ~3x on different
    # synthetic days), and a third of fetches carry a tracking-param alias
    # so canonicalization does real merging work. Cheap by design —
    # included so the full crawl-maintenance path has a tracked number. --
    if want("latest_crawl"):
        from longqc_spark.operators.web import latest_crawl

        page = F.pmod(F.xxhash64("url"), F.lit(max(args.docs // 3, 1)))
        crawl = docs.withColumn(
            "url",
            F.concat(
                F.lit("https://www.s"),
                F.pmod(page, F.lit(100_000)).cast("string"),
                F.lit(".example.com/p"),
                page.cast("string"),
                F.when(
                    F.pmod(F.xxhash64("url"), F.lit(3)) == 0,
                    F.lit("?utm_source=feed"),
                ).otherwise(F.lit("")),
            ),
        ).withColumn(
            "warc_ts",
            F.expr(
                "timestamp'2025-01-01' + make_interval(0, 0, 0, "
                "CAST(pmod(xxhash64(url, 7), 28) AS INT), 0, 0, 0)"
            ),
        )
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_kept = latest_crawl(crawl, key_col="url").count()
            best = min(best, time.time() - t0)
        out["latest_crawl"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_kept": n_kept,
        }

    # -- host-scoped boilerplate strip at corpus scale: 40k hosts (~100
    # pages each), every page wrapped in its host's NAV/FOOT chrome lines
    # (stripped: on 100% of the host's pages) plus a parity PROMO line
    # (kept: 50% < the 0.6 threshold). Same heavy class as
    # corpus_line_dedup — every line hashed twice — but grouped per host. --
    if want("host_boilerplate"):
        from longqc_spark.operators.web import host_boilerplate_strip

        hostn = F.pmod(F.xxhash64("url"), F.lit(40_000)).cast("string")
        wrapped = docs.select(
            "url",
            F.concat(F.lit("h"), hostn).alias("host"),
            F.concat(
                F.lit("NAV chrome for host "), hostn, F.lit("\n"),
                F.when(
                    F.pmod(F.xxhash64("url", F.lit(11)), F.lit(2)) == 0,
                    F.concat(F.lit("PROMO banner "), hostn, F.lit("\n")),
                ).otherwise(F.lit("")),
                F.col("text"),
                F.lit("\nFOOT legal "), hostn,
            ).alias("text"),
        )
        best, dropped = float("inf"), 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            dropped = (
                host_boilerplate_strip(
                    wrapped, key_col="url", min_frac=0.6, min_pages=4
                )
                .agg(F.sum(F.length("text"))).collect()[0][0]
            )
            best = min(best, time.time() - t0)
        in_chars = wrapped.agg(F.sum(F.length("text"))).collect()[0][0]
        out["host_boilerplate"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "chars_dropped": int(in_chars - dropped),
        }

    # -- mirror-site detection at corpus scale: 40k hosts arranged as 20k
    # perfect mirror pairs (each site's pages split by page-number parity
    # across host -0/-1, digest keyed by the halved page number so the two
    # hosts share every digest), PLUS a 5% boilerplate flood concentrated
    # on 100 digests that land on ~all hosts — without the document-
    # frequency guard those 100 keys alone would emit ~10^11 join pairs;
    # with it the self-join stays ~1 pair-row per corpus doc. --
    if want("mirror"):
        from longqc_spark.operators.mirror import mirror_pairs

        pages = docs.selectExpr(
            "concat('h', pmod(xxhash64(url), 20000), '-', "
            f"pmod(pmod(xxhash64(url), {args.docs}) div 20000, 2)) AS host",
            "CASE WHEN pmod(xxhash64(url, 5), 20) = 0 "
            "THEN concat('bp', pmod(xxhash64(url), 100)) "
            "ELSE md5(concat(pmod(xxhash64(url), 20000), '-', "
            f"(pmod(xxhash64(url), {args.docs}) div 20000) div 2)) END AS digest",
        )
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_pairs = mirror_pairs(
                pages, min_shared=2, min_containment=0.5, max_hosts=16
            ).count()
            best = min(best, time.time() - t0)
        out["mirror_pairs"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_pairs": n_pairs,
        }

    # -- cross-run NEAR-dup at corpus scale: the committed run is 1/2 of the
    # corpus; its band table is built once (the write_band_index cost), then
    # a re-crawl batch = the same pages with one token prepended (exact
    # digest dedup would admit 100%) is probed. Two numbers: the one-time
    # index build and the per-re-crawl probe. --
    if want("neardup"):
        from longqc_spark.operators.dedup import incremental_neardup, minhash_band_table

        h2 = F.pmod(F.xxhash64("url"), F.lit(2))
        committed = docs.filter(h2 == 0)
        n_committed = committed.count()
        t0 = time.time()
        bands_path = os.path.join(tempfile.mkdtemp(prefix="bands_"), "bands")
        minhash_band_table(committed, key_col="url", text_col="text").write.parquet(
            bands_path
        )
        build_s = time.time() - t0
        bands_tbl = spark.read.parquet(bands_path)
        batch = committed.withColumn(
            "text", F.concat(F.lit("recrawl2025 "), F.col("text"))
        )
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_adm = incremental_neardup(
                batch, bands_tbl, key_col="url", text_col="text"
            ).count()
            best = min(best, time.time() - t0)
        out["neardup_band_index"] = {
            "build_sec": round(build_s, 1),
            "probe_sec": round(best, 1),
            "probe_docs_per_sec": round(n_committed / best),
            "n_batch": n_committed,
            "n_admitted": n_adm,
        }
        shutil.rmtree(os.path.dirname(bands_path), ignore_errors=True)

    # -- UT1-style domain blocklist at corpus scale: 500k synthetic entries
    # (plus 3 live hosts so the probe drops real rows) against the full
    # corpus. The suffix explode is a bounded map (fan-out = host label
    # count, 2 here); the blocklist side aggregates to distinct entries and
    # broadcasts, so the corpus side is scan → generate → one broadcast
    # hash-join probe with NO corpus shuffle. --
    if want("blocklist"):
        from longqc_spark.operators.web import blocklist_filter

        bl = spark.range(500_000).select(
            F.concat(
                F.lit("dom"), F.col("id").cast("string"), F.lit(".blocked.example")
            ).alias("entry")
        ).unionByName(
            spark.createDataFrame(
                [("host3.example",), ("host17.example",), ("host111.example",)],
                "entry string",
            )
        )
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_kept = blocklist_filter(docs, bl, url_col="url", key_col="url").count()
            best = min(best, time.time() - t0)
        out["blocklist_filter"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_entries": 500_003,
            "n_kept": n_kept,
        }

    if want("skew") and args.skew_docs:
        # skew-adversarial: 30% one-template flood vs uniform, same size,
        # guarded LSH (max_bucket bounds the flood bucket's fan-out)
        n = args.skew_docs
        # third leg: the same 30% flood under a per-dump horizon (4 synthetic
        # dumps) — the scope joins into the bucket key, so the flood bucket
        # splits 4 ways BEFORE the star guard sees it
        for tag, frac, scope in (
            ("uniform", 0.0, None),
            ("skew30", 0.3, None),
            ("skew30_scoped", 0.3, "dump"),
        ):
            df = boilerplate_docs(spark, n, flood_frac=frac)
            if scope:
                df = df.withColumn(
                    "dump", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
                )
            df = df.cache()
            df.count()
            best_t, pairs = float("inf"), 0
            plan = ""
            for i in range(2):  # pass 0 = warm-up
                t0 = time.time()
                # aggregate-then-collect so the adaptive FINAL plan is
                # capturable from this same DataFrame's queryExecution
                # (count()/write build fresh QEs with isFinalPlan=false)
                cnt_df = minhash_jaccard_estimate(
                    df, key_col="url", threshold=0.8, max_bucket=200,
                    scope_col=scope,
                ).groupBy().count()
                pairs = cnt_df.collect()[0][0]
                best_t = min(best_t, time.time() - t0)
                plan = cnt_df._jdf.queryExecution().executedPlan().toString()
            out[f"lsh_{tag}_{n // 1_000_000}m"] = {
                "sec": round(best_t, 1),
                "docs_per_sec": round(n / best_t),
                "n_pairs": pairs,
                # VERDICT r3 item 5: does AQE's skew-join split fire on the
                # banded self-join at this scale, or does the max_bucket
                # guard alone carry the skew? ("skew=true" markers in the
                # adaptive final plan; expected FALSE — AQE cannot split a
                # skewed SELF-join since both sides share the skewed
                # partition, which is exactly why the guard exists;
                # pinned in tests/test_skew.py)
                "skew_join_split_fired": "skew=true" in plan,
            }
            df.unpersist()
        u = out[f"lsh_uniform_{n // 1_000_000}m"]["sec"]
        s = out[f"lsh_skew30_{n // 1_000_000}m"]["sec"]
        out["skew_over_uniform_ratio"] = round(s / u, 2)

    # -- round-5 (VERDICT r4 item 6): demonstrate AQE's skew-join split
    # actually FIRING at default skew thresholds on the join shape it
    # protects — a ONE-SIDED skewed equi-join of docs × a precomputed
    # host-feature table (the domain_cap/host-prior join family). 50% of
    # a 1M-doc corpus lands on one hot host with ~2 KiB of incompressible
    # hex pad per doc carried THROUGH the join (column pruning must not
    # strip it — a count-only probe ships just the host strings and the
    # hot partition stays tiny), so the hot shuffle partition (~1 GB
    # compressed) clears the DEFAULT skewedPartitionThresholdInBytes=256m
    # AND 5× the median — no threshold cranking.
    # autoBroadcastJoinThreshold=-1 emulates the at-scale regime (a
    # 10^8-row host table does not broadcast); every skew conf stays at
    # its default. Two structural constraints this fixture documents
    # (both also pinned in SCALE.md / tests/test_skew.py):
    #   1. the flooded SELF-join (lsh_skew30 above) never shows
    #      skew=true — both sides share the partition and only the
    #      max_bucket guard bounds its OUTPUT;
    #   2. OptimizeSkewedJoin pattern-matches Sort←ShuffleQueryStage
    #      DIRECTLY on both sides, so a join whose dimension side is
    #      aggregated in the same plan (groupBy→join) is NOT split —
    #      the dimension table must arrive as a plain shuffled relation
    #      (e.g. a host-stats table materialized by a prior job, the
    #      production shape). Measured here: 9.5 s unsplit (agg-fused
    #      twin) vs 5.9 s split. --
    if want("skew_onesided") and args.skew_docs:
        n = args.skew_docs
        host = (
            F.when(F.pmod("id", 2) == 0, F.lit("hot.example"))
            .otherwise(
                F.concat(
                    F.lit("h"),
                    F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(50_000)),
                    F.lit(".example"),
                )
            )
            .alias("host")
        )
        pad = F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(1), F.lit(32)),
                lambda i: F.sha2(
                    F.concat(F.col("id").cast("string"), i.cast("string")), 256
                ),
            ),
        ).alias("pad")  # 32 × 64 hex chars ≈ 2 KiB, incompressible
        docs_hot = spark.range(n).select(host, pad)
        host_feats = spark.range(50_001).select(
            F.when(F.col("id") == 50_000, F.lit("hot.example"))
            .otherwise(F.concat(F.lit("h"), F.col("id"), F.lit(".example")))
            .alias("host"),
            (F.col("id") % 100).alias("host_score"),
        )
        saved_abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            best, plan = float("inf"), ""
            for i in range(2):  # pass 0 = warm-up
                t0 = time.time()
                cnt_df = (
                    docs_hot.join(host_feats, "host")
                    .groupBy()
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("pad")).alias("pad_chars"),
                        F.sum("host_score").alias("score_sum"),
                    )
                )
                cnt_df.collect()
                best = min(best, time.time() - t0)
                plan = cnt_df._jdf.queryExecution().executedPlan().toString()
            out[f"onesided_hot_host_{n // 1_000_000}m"] = {
                "sec": round(best, 1),
                "docs_per_sec": round(n / best),
                "skew_join_split_fired": "skew=true" in plan,
                "aqe_skew_confs": "defaults",
            }
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_abt)

    # -- quality-aware exact dedup at corpus scale: half the corpus is
    # re-crawled under mirror URLs with a higher crawl prior, so the argmax
    # window does real winner selection over a 1.5x corpus. Same single
    # digest exchange as min-key dedup (WindowGroupLimit pre-cut); the
    # record tracks whether the quality policy costs anything over the
    # arbitrary-winner policy (expected: no). --
    if want("keep_best"):
        from longqc_spark.operators.dedup import keep_best_dedup

        mirror = docs.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0).withColumn(
            "url", F.concat(F.lit("https://mirror.example/"), F.col("url"))
        )
        dup_corpus = docs.unionByName(mirror).withColumn(
            "crawl_prior",
            F.col("url").startswith("https://mirror.example/").cast("double"),
        )
        n_in = args.docs + args.docs // 2
        for tag, score in (("minkey", None), ("best", "crawl_prior")):
            best = float("inf")
            for i in range(2):  # pass 0 = warm-up
                t0 = time.time()
                n_kept = keep_best_dedup(
                    dup_corpus, score, key_col="url", text_col="text"
                ).count()
                best = min(best, time.time() - t0)
            out[f"keep_best_dedup_{tag}"] = {
                "sec": round(best, 1),
                "docs_per_sec": round(n_in / best),
                "n_in": n_in,
                "n_kept": n_kept,
            }

    # -- sequence packing at corpus scale: global token-offset assignment
    # over xxhash64-derived keys (full int64 span — the auto-scaled range
    # table case) with seq_len=2048. Two passes over the corpus, no global
    # window; the output action is a 1-row max aggregate so the timing is
    # the packing cost, not a write. --
    if want("pack_seqs"):
        from longqc_spark.operators.relational import pack_sequences

        keyed = docs.withColumn("k", F.xxhash64("url")).withColumn(
            "n_tok", F.length("text").cast("long")
        )
        best = float("inf")
        n_seqs = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_seqs = (
                pack_sequences(keyed, 2048, tokens_col="n_tok", key_col="k")
                .agg(F.max("seq_id"))
                .collect()[0][0]
                + 1
            )
            best = min(best, time.time() - t0)
        out["pack_seqs_2048"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_sequences": int(n_seqs),
        }

    # -- the packed-row WRITER at corpus scale: every char of the corpus
    # crosses exactly one seq_id-keyed shuffle and is reassembled into
    # fixed-2048-char rows. Output action = count + total-length agg (the
    # write itself would be the same shuffle + a sink). --
    if want("pack_rows"):
        from longqc_spark.operators.relational import pack_sequence_rows

        keyed = docs.withColumn("k", F.xxhash64("url"))
        best = float("inf")
        n_rows = total_chars = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            row = (
                pack_sequence_rows(keyed, 2048, text_col="text", key_col="k")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("seq_text")).alias("c"),
                )
                .collect()[0]
            )
            n_rows, total_chars = row["n"], row["c"]
            best = min(best, time.time() - t0)
        out["pack_rows_2048"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "chars_per_sec": round(total_chars / best),
            "n_rows": int(n_rows),
        }

    # -- the FULL within-corpus near-dup dedup stage at 1M docs on the
    # skew-adversarial corpus (30% one-template flood): LSH pairs (star
    # guard on) → connected components (min-label propagation, early-stop)
    # → one survivor per cluster. The flood forms ONE ~300k-member cluster
    # whose guard pairs are a star (diameter 2), so CC converges in a few
    # supersteps — the number that matters is the whole stage's wall-clock,
    # the same path curate(neardup_threshold=) runs. --
    if want("neardup_keep_best"):
        from longqc_spark.operators.dedup import cluster_keep_best

        n = args.skew_docs or 1_000_000
        df = boilerplate_docs(spark, n, flood_frac=0.3).cache()
        df.count()
        best = float("inf")
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            prs = minhash_jaccard_estimate(
                df, key_col="url", threshold=0.8, max_bucket=200
            )
            n_kept = cluster_keep_best(df, prs, None, key_col="url").count()
            best = min(best, time.time() - t0)
        df.unpersist()
        out["neardup_keep_best_1m_skew30"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(n / best),
            "n_in": n,
            "n_kept": n_kept,
        }

    # -- the user-facing curate() funnel WITH the round-4b dedup stages over
    # a ~1M-doc slice of the realistic CC corpus: payload dedup + LSH
    # near-dup (star guard) + QC keep/drop + split, one lazy composition,
    # timed end-to-end — the number a user running the whole funnel sees.
    # (NOT the hex-word skew corpus: its pseudo-words fail every QC rule,
    # so n_out would be 0 and the record meaningless.) --
    if want("curate_full"):
        from longqc_spark.config import DEFAULT_CONFIG
        from longqc_spark.curation import curate

        slice_df = docs.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0).cache()
        n = slice_df.count()
        best = float("inf")
        n_out = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            n_out = curate(
                slice_df,
                cfg=DEFAULT_CONFIG,
                key_col="url",
                text_col="text",
                payload_dedup=True,
                neardup_threshold=0.8,
                neardup_max_bucket=200,
            ).count()
            best = min(best, time.time() - t0)
        slice_df.unpersist()
        # key carries the SLICE size (docs/4) so the 8M ladder's record
        # (2M slice) lands beside — not on top of — the 4M run's 1M key
        out[f"curate_full_{max(n // 1_000_000, 1)}m_cc"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(n / best),
            "n_in": n,
            "n_out": n_out,
        }

    # -- duplicated-span removal at corpus scale: a 1M-doc slice (same
    # sizing rule as curate_full) through scrub_dup_spans. Dominant cost is
    # the span shuffle (≈ n_tokens-7 span rows per doc) + the delete-range
    # anti-join; the slice keeps the measurement inside one epoch while the
    # docs/s figure scales per-core like every other shuffle-bound stage. --
    if want("scrub_spans"):
        from longqc_spark.operators.dedup import scrub_dup_spans

        slice_df = docs.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 1).cache()
        n = slice_df.count()
        best = float("inf")
        removed = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            row = (
                scrub_dup_spans(slice_df, key_col="url", text_col="text")
                .agg(F.sum("n_removed").alias("r"), F.count(F.lit(1)).alias("n"))
                .collect()[0]
            )
            removed = int(row["r"])
            best = min(best, time.time() - t0)
        slice_df.unpersist()
        out["scrub_dup_spans_1m_cc"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(n / best),
            "n_in": n,
            "n_tokens_removed": removed,
        }

    # -- round-4j: charset sniff is a pure scan-fused CASE/regexp chain, so
    # its corpus rate is the ceiling any fetch-side gate can hit --
    if want("charset"):
        from longqc_spark.operators.web import charset_sniff

        best = float("inf")
        dist = None
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            dist = (
                charset_sniff(docs, html_col="html")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("charset") == "windows-1252").alias(
                        "n_default"
                    ),
                    F.count_if(F.col("charset_conflict")).alias("n_conflict"),
                )
                .collect()[0]
            )
            best = min(best, time.time() - t0)
        out["charset_sniff"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "n_default": int(dist["n_default"]),
            "n_conflict": int(dist["n_conflict"]),
        }

    # -- round-4j: Zipf fit pays one vocab-count shuffle + a TakeOrdered;
    # the recorded slope/r2 double as the corpus-health reading at 4M --
    # -- round-4j: distributed BPE training — the corpus is scanned ONCE
    # into word counts; each merge round is a vocab-bounded shuffle. The
    # per-round cost is what bounds tokenizer training at 10^12 docs, so
    # sec_per_merge is the headline. --
    if want("bpe"):
        from longqc_spark.operators.bpe import learn_bpe

        t0 = time.time()
        # min_word_count=2: the production dictionary threshold — the 4M
        # synth corpus has 36M unique words, overwhelmingly hapaxes that
        # carry no pair mass (measured: the unthresholded dictionary OOMs
        # a single 128G JVM on the pair explode; thresholded it trains
        # comfortably — at cluster scale the threshold is what bounds the
        # per-round shuffle regardless of corpus size)
        merges = learn_bpe(docs, text_col="text", n_merges=10, min_word_count=2)
        dt = time.time() - t0
        out["bpe_learn_10"] = {
            "sec": round(dt, 1),
            "sec_per_merge": round(dt / max(len(merges), 1), 2),
            "n_merges": len(merges),
            "docs_per_sec": round(args.docs / dt),
        }

    # -- round-4m: interpolated Kneser-Ney bigram LM — train on the full
    # corpus (model tables written to parquet, the shippable artifact),
    # then score every doc against the persisted model. Train = one
    # corpus-sized exchange on w1 + vocab-sized continuation aggs; score =
    # three vocab-bounded joins. --
    if want("knlm"):
        from longqc_spark.operators.knlm import kn_bigram_lm, kn_score

        model_dir = tempfile.mkdtemp(prefix="knlm_")
        try:
            t0 = time.time()
            pair, kctx, cont, consts = kn_bigram_lm(
                docs, text_col="text", counts_cache=True
            )
            for name, d in (
                ("pair", pair), ("ctx", kctx), ("cont", cont), ("consts", consts)
            ):
                d.write.mode("overwrite").parquet(os.path.join(model_dir, name))
            train_dt = time.time() - t0
            # free the training lineage (DISK_ONLY counts pin + shuffle
            # files) before scoring — same disk-fit move as the trigram
            # section below; at 8M docs the two phases together exceed
            # this VM's free disk if training's files linger
            pair = kctx = cont = consts = None
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(10)
            n_bigram_types = spark.read.parquet(
                os.path.join(model_dir, "pair")
            ).count()
            t0 = time.time()
            scored = kn_score(
                docs,
                spark.read.parquet(os.path.join(model_dir, "pair")),
                spark.read.parquet(os.path.join(model_dir, "ctx")),
                spark.read.parquet(os.path.join(model_dir, "cont")),
                spark.read.parquet(os.path.join(model_dir, "consts")),
                keep_cols=("url",),
            ).agg(
                F.count(F.lit(1)), F.sum("sum_logp_micro"), F.sum("n_backoff")
            ).collect()[0]
            score_dt = time.time() - t0
            # training scans all args.docs input docs; the score rate uses
            # the scored row count, which null texts or duplicate urls can
            # make differ from args.docs
            n_docs_scored = int(scored[0])
            out["kn_bigram_lm"] = {
                "train_sec": round(train_dt, 1),
                "train_docs_per_sec": round(args.docs / train_dt),
                "score_sec": round(score_dt, 1),
                "score_docs_per_sec": round(n_docs_scored / score_dt),
                "n_bigram_types": n_bigram_types,
                "n_docs_scored": n_docs_scored,
            }
        finally:
            shutil.rmtree(model_dir, ignore_errors=True)

    # -- round-5: modified-KN TRIGRAM — the heavier sibling (VERDICT r4
    # item 2: only the bigram was measured at 4M). Same protocol: train
    # the 6-table model to parquet (the shippable artifact), then score
    # every doc against the persisted tables via the type-level join. --
    if want("knlm_tri"):
        from longqc_spark.operators.knlm import kn_trigram_lm, kn_trigram_score

        model_dir = tempfile.mkdtemp(prefix="knlm3_")
        try:
            t0 = time.time()
            model = kn_trigram_lm(docs, text_col="text", counts_cache=True)
            table_names = tuple(model)
            for name, d in model.items():
                d.write.mode("overwrite").parquet(os.path.join(model_dir, name))
            train_dt = time.time() - t0
            # the 6-table write is the LAST consumer of the training
            # lineage, but its DISK_ONLY c3 pin and ~40 GB of training
            # shuffle files would survive into the scoring phase:
            # ContextCleaner frees them only after the plans are GC'd AND
            # a JVM GC runs (periodicGC default = 30 min, longer than the
            # phase) — measured twice as a 'No space left on device' abort
            # during scoring on this VM's 68 GB free disk. Scoring reads
            # the model back from parquet, so drop every reference and
            # force both GCs before starting it.
            model = None
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(10)  # let ContextCleaner's async deletes land
            n_trigram_types = spark.read.parquet(
                os.path.join(model_dir, "tri")
            ).count()
            persisted = {
                name: spark.read.parquet(os.path.join(model_dir, name))
                for name in table_names
            }
            t0 = time.time()
            scored = kn_trigram_score(docs, persisted, keep_cols=("url",)).agg(
                F.count(F.lit(1)),
                F.sum("sum_logp_micro"),
                F.sum("n_tri_hits"),
            ).collect()[0]
            score_dt = time.time() - t0
            n_docs_scored = int(scored[0])
            out["kn_trigram_lm"] = {
                "train_sec": round(train_dt, 1),
                "train_docs_per_sec": round(args.docs / train_dt),
                "score_sec": round(score_dt, 1),
                "score_docs_per_sec": round(n_docs_scored / score_dt),
                "n_trigram_types": n_trigram_types,
                "n_docs_scored": n_docs_scored,
            }
        finally:
            shutil.rmtree(model_dir, ignore_errors=True)

    # -- round-4m: in-plan multinomial Naive Bayes — trained on the FULL
    # corpus (token counts are the sufficient statistics; no sample cap),
    # deterministic synthetic label. Train = one groupBy(token) shuffle;
    # predict = one vocab-bounded join + per-doc sum. --
    if want("nbayes"):
        from longqc_spark.operators.nbayes import nb_predict, nb_train

        labeled = docs.withColumn("y", F.length("text") % 2 == 0)
        model_dir = tempfile.mkdtemp(prefix="nb_")
        try:
            t0 = time.time()
            llr, consts = nb_train(labeled, "y", text_col="text", counts_cache=True)
            llr.write.mode("overwrite").parquet(os.path.join(model_dir, "llr"))
            consts.write.mode("overwrite").parquet(
                os.path.join(model_dir, "consts")
            )
            train_dt = time.time() - t0
            n_vocab = spark.read.parquet(os.path.join(model_dir, "llr")).count()
            t0 = time.time()
            res = nb_predict(
                labeled,
                spark.read.parquet(os.path.join(model_dir, "llr")),
                spark.read.parquet(os.path.join(model_dir, "consts")),
                keep_cols=("url", "y"),
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("pred") == F.col("y")).alias("n_correct"),
            ).collect()[0]
            pred_dt = time.time() - t0
            out["nb_classifier"] = {
                "train_sec": round(train_dt, 1),
                "train_docs_per_sec": round(args.docs / train_dt),
                "predict_sec": round(pred_dt, 1),
                "predict_docs_per_sec": round(args.docs / pred_dt),
                "n_vocab": n_vocab,
                "accuracy": round(res["n_correct"] / max(res["n"], 1), 4),
            }
        finally:
            shutil.rmtree(model_dir, ignore_errors=True)

    if want("zipf"):
        from longqc_spark.operators.text import zipf_fit

        best = float("inf")
        row = None
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            row = zipf_fit(docs, text_col="text", k=200).collect()[0]
            best = min(best, time.time() - t0)
        out["zipf_fit"] = {
            "sec": round(best, 1),
            "docs_per_sec": round(args.docs / best),
            "slope": float(row["slope"]),
            "r2": float(row["r2"]),
        }

    # -- round-4j: perceptual image near-dup — decode + dhash + banded
    # hamming join over a synthetic BMP corpus with a planted dup per 4
    # images (IDs offset by 10^6). The decode pass dominates; the join
    # exchanges 8-byte hashes only. --
    if want("image_neardup"):
        import numpy as np
        import pandas as pd

        from longqc_spark.operators.multimodal import (
            dhash64,
            encode_bmp,
            image_near_pairs,
        )

        n_img = min(args.docs // 20, 200_000)

        def gen(batches):
            for pdf in batches:
                rows = {"media_id": [], "payload": []}
                for mid in pdf["id"]:
                    rng = np.random.default_rng(mid)
                    img = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
                    rows["media_id"].append(mid)
                    rows["payload"].append(encode_bmp(img))
                    if mid % 4 == 0:
                        jit = np.clip(
                            img.astype(np.int64)
                            + rng.integers(-2, 3, size=img.shape),
                            0,
                            255,
                        ).astype(np.uint8)
                        rows["media_id"].append(mid + 1_000_000)
                        rows["payload"].append(encode_bmp(jit))
                yield pd.DataFrame(rows)

        media = (
            spark.range(n_img)
            .repartition(args.cores * 4)
            .mapInPandas(gen, schema="media_id long, payload binary")
            .cache()
        )
        n_media = media.count()
        best = float("inf")
        n_pairs = 0
        for i in range(2):  # pass 0 = warm-up
            t0 = time.time()
            # the scale-default config: 16-bit chunks keep buckets tiny at
            # any size (the 8-bit/radius-6 variant needs max_bucket past
            # ~10^5 images — see the operator docstring)
            n_pairs = image_near_pairs(media, max_hamming=3, n_chunks=4).count()
            best = min(best, time.time() - t0)
        media.unpersist()
        out["image_neardup"] = {
            "sec": round(best, 1),
            "images_per_sec": round(n_media / best),
            "n_images": n_media,
            "n_planted": (n_img + 3) // 4,
            "n_pairs": n_pairs,
        }

    # -- round-4n: feature-hashed TF-IDF + full-corpus k-means, CHAINED —
    # the hashing trick featurizes the whole corpus with one (doc,bucket)
    # shuffle, then Lloyd's runs its shuffle-free assignment + one
    # (cluster,pos)-grain update per iteration over the dense vectors. --
    if want("hash_kmeans"):
        from longqc_spark.operators.features import hash_vectors, hashed_tfidf
        from longqc_spark.operators.kmeans import kmeans_fit, kmeans_report

        dim = 64
        t0 = time.time()
        vecs = hash_vectors(
            hashed_tfidf(docs, id_col="url", dim=dim), dim=dim, id_col="url"
        ).select(
            "url",
            F.transform("vec", lambda x: x.cast("double") / F.lit(1e8)).alias(
                "embedding"
            ),
        )
        vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
        n_feat = vecs.count()  # force: the persist is lazy — time the work
        feat_dt = time.time() - t0
        t0 = time.time()
        asg, _ = kmeans_fit(vecs, id_col="url", k=8, iters=3)
        sizes = kmeans_report(asg, id_col="url").collect()
        fit_dt = time.time() - t0
        out["hash_kmeans"] = {
            "featurize_sec": round(feat_dt, 1),
            "featurize_docs_per_sec": round(args.docs / feat_dt),
            "kmeans_sec": round(fit_dt, 1),
            "kmeans_docs_per_sec": round(args.docs / fit_dt),
            "dim": dim,
            "k": 8,
            "iters": 3,
            "n_assigned": int(sum(r["n_vecs"] for r in sizes)),
        }

    # -- round-4n: alternating-star CC on a corpus-sized PATH graph (one
    # chain per 2^15 block) — diameter ~32k, the case where label
    # propagation would need ~32k shuffle rounds and the star alternation
    # needs ~log2(32k) ≈ 15 two-shuffle rounds. --
    if want("cc_star"):
        from longqc_spark.operators.cc import connected_components_star

        n_nodes = args.docs
        block = 1 << 15
        edges = (
            spark.range(n_nodes)
            .filter(F.col("id") % block != block - 1)
            .filter(F.col("id") + 1 < n_nodes)
            .select(F.col("id").alias("key_a"), (F.col("id") + 1).alias("key_b"))
        )
        t0 = time.time()
        cc = connected_components_star(edges, max_iter=40)
        n_comp = cc.select("component").distinct().count()
        dt = time.time() - t0
        out["cc_star_path"] = {
            "sec": round(dt, 1),
            "nodes_per_sec": round(n_nodes / dt),
            "n_nodes": n_nodes,
            "block": block,
            "n_components": n_comp,
        }

    if only and os.path.exists(args.out):
        # partial run: merge the fresh sections into the standing record
        # (same n_docs/cores only — a size change invalidates old keys)
        with open(args.out) as f:
            prev = json.loads(f.read())
        if prev.get("n_docs") == out["n_docs"] and prev.get("cores") == out["cores"]:
            prev.update(out)
            out = prev
    with open(args.out, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
