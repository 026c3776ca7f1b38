"""Driver-side fits (pure-numpy scipy stand-ins) + the summary report stage."""

import math

import numpy as np
import pytest

from longqc_spark.fits import digamma, gamma_mle, gmm_1d, norm_lognorm_em, trigamma


def test_digamma_known_values():
    # ψ(1) = -γ, ψ(0.5) = -γ - 2 ln 2
    g = 0.5772156649015329
    assert digamma(1.0) == pytest.approx(-g, abs=1e-10)
    assert digamma(0.5) == pytest.approx(-g - 2 * math.log(2), abs=1e-10)
    # recurrence ψ(x+1) = ψ(x) + 1/x
    assert digamma(3.7) == pytest.approx(digamma(2.7) + 1 / 2.7, abs=1e-10)


def test_trigamma_known_values():
    assert trigamma(1.0) == pytest.approx(math.pi**2 / 6, abs=1e-10)
    assert trigamma(2.5) == pytest.approx(trigamma(1.5) - 1 / 1.5**2, abs=1e-10)


def test_gamma_mle_recovers_params():
    rng = np.random.default_rng(3)
    x = rng.gamma(shape=4.0, scale=120.0, size=200_000)
    k, theta = gamma_mle(float(x.mean()), float(np.log(x).mean()))
    assert k == pytest.approx(4.0, rel=0.02)
    assert theta == pytest.approx(120.0, rel=0.02)


def test_gmm_separates_two_modes():
    rng = np.random.default_rng(4)
    x = np.concatenate([rng.normal(0, 1, 5000), rng.normal(10, 2, 15000)])
    comps = gmm_1d(x, k=2)
    assert comps[0]["mu"] == pytest.approx(0.0, abs=0.15)
    assert comps[1]["mu"] == pytest.approx(10.0, abs=0.15)
    assert comps[0]["weight"] == pytest.approx(0.25, abs=0.03)


def test_norm_lognorm_em():
    rng = np.random.default_rng(5)
    x = np.concatenate(
        [rng.normal(50, 5, 8000), rng.lognormal(mean=5.0, sigma=0.3, size=12000)]
    )
    fit = norm_lognorm_em(x)
    assert fit["normal"]["mu"] == pytest.approx(50, rel=0.1)
    assert fit["lognormal"]["mu"] == pytest.approx(5.0, abs=0.1)
    assert fit["lognormal_mode"] == pytest.approx(math.exp(5.0 - 0.09), rel=0.15)


def test_kde_gaussian():
    from longqc_spark.fits import kde_gaussian

    rng = np.random.default_rng(7)
    x = rng.normal(5.0, 2.0, 20000)
    grid, dens = kde_gaussian(x, n_grid=256)
    assert np.trapz(dens, grid) == pytest.approx(1.0, abs=0.02)
    assert grid[np.argmax(dens)] == pytest.approx(5.0, abs=0.5)
    # matches the closed-form N(5,2) density at the mode to KDE accuracy
    assert dens.max() == pytest.approx(1 / (2 * math.sqrt(2 * math.pi)), rel=0.05)
    # fixed grid + bandwidth path
    g2, d2 = kde_gaussian(x, grid=np.linspace(0, 10, 11), bandwidth=0.5)
    assert g2.shape == d2.shape == (11,)


def test_summarize_report(spark, corpus_path, tmp_path):
    from longqc_spark.pipeline import qc_pipeline
    from longqc_spark.report import summarize, write_html_report, write_json_report

    labels = qc_pipeline(spark.read.parquet(corpus_path))
    s = summarize(labels)
    assert s["totals"]["n_docs"] == 1000
    assert 0 < s["totals"]["keep_rate"] < 1
    assert s["totals"]["n50_words"] > 0
    # the summary's NXX walks the collected (n_words → count) rows (no
    # single-task global-sort window anywhere in the production report
    # path); values must equal the exact window nxx
    from longqc_spark.operators.relational import nxx

    exact = {int(r["pct"]): r["nxx"] for r in nxx(labels, "n_words", [0.5, 0.9]).collect()}
    assert s["totals"]["n50_words"] == exact[50]
    assert s["totals"]["n90_words"] == exact[90]
    assert sum(s["reasons"].values()) > 0
    assert sum(s["histograms"]["n_words_b50"].values()) == 1000
    assert s["fits"]["gamma_length"]["shape"] > 0
    assert len(s["fits"]["gmm_perplexity"]) == 2
    assert "en" in s["langs"]
    # decision cascade fires: synthetic corpus keeps ~60% → no error
    assert "low_keep_rate" not in s["errors"]

    jp, hp = str(tmp_path / "r.json"), str(tmp_path / "r.html")
    write_json_report(s, jp)
    write_html_report(s, hp)
    import json

    assert json.load(open(jp))["totals"]["n_docs"] == 1000
    assert "<h1>" in open(hp).read()


def _summarize_reference(labels, cfg=None, sample_n: int = 10_000) -> dict:
    """The multi-query ``summarize`` the one-pass version replaced, kept as
    the reference it must reproduce."""
    from pyspark.sql import functions as F

    from longqc_spark.config import DEFAULT_CONFIG
    from longqc_spark.operators.relational import histogram, n50_approx
    from longqc_spark.report import (
        KEEP_RATE_ERROR,
        KEEP_RATE_WARN,
        LANG_MISMATCH_WARN,
        PII_RATE_WARN,
    )

    cfg = cfg or DEFAULT_CONFIG
    agg = labels.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("keep")).alias("n_keep"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").alias("total_words"),
        F.max("n_words").alias("longest_doc_words"),
        F.avg("n_words").alias("mean_words"),
        F.avg("mean_word_len").alias("mean_word_len"),
        F.avg("symbol_char_frac").alias("mean_symbol_frac"),
        F.avg("dup_line_frac").alias("mean_dup_line_frac"),
        F.avg("perplexity").alias("mean_perplexity"),
        F.expr("percentile(perplexity, 0.5)").alias("median_perplexity"),
        F.sum("pii_match_count").alias("total_pii_matches"),
        F.count_if(F.col("pii_match_count") > 0).alias("n_docs_with_pii"),
        F.sum("tox_match_count").alias("total_tox_matches"),
        F.avg(F.when(F.col("n_words") > 0, F.col("n_words"))).alias("len_mean"),
        F.avg(F.when(F.col("n_words") > 0, F.log("n_words"))).alias("len_meanlog"),
    ).collect()[0]

    n_docs = agg["n_docs"] or 0
    n_keep = agg["n_keep"] or 0
    reasons = {
        r["reason"]: r["n"]
        for r in labels.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    len_hist = {
        int(r["bin"]): r["n"] for r in histogram(labels, "n_words", 50.0).collect()
    }
    ppl_hist = {
        int(r["bin"]): r["n"]
        for r in histogram(labels.filter(F.col("perplexity") < 20000), "perplexity", 500.0).collect()
    }
    lang_counts = {
        r["lang_pred"]: r["n"]
        for r in labels.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n50_rows = {
        int(r["pct"]): r["nxx"]
        for r in n50_approx(labels, "n_words", [0.5, 0.9]).collect()
    }
    gamma_shape, gamma_scale = (
        gamma_mle(agg["len_mean"], agg["len_meanlog"]) if agg["len_mean"] else (0.0, 0.0)
    )
    ppl_sample = [
        r["perplexity"]
        for r in labels.select("perplexity")
        .orderBy(F.xxhash64("perplexity", F.lit(13)))
        .limit(sample_n)
        .collect()
    ]
    gmm = gmm_1d(ppl_sample, k=2) if len(ppl_sample) >= 10 else []

    keep_rate = n_keep / n_docs if n_docs else 0.0
    pii_rate = (agg["n_docs_with_pii"] or 0) / n_docs if n_docs else 0.0
    lang_ok = sum(v for k, v in lang_counts.items() if k in cfg.allowed_langs)
    lang_mismatch = 1.0 - lang_ok / n_docs if n_docs else 0.0

    warnings: dict[str, str] = {}
    errors: dict[str, str] = {}
    if keep_rate < KEEP_RATE_ERROR:
        errors["low_keep_rate"] = f"keep rate {keep_rate:.3f} < {KEEP_RATE_ERROR}"
    elif keep_rate < KEEP_RATE_WARN:
        warnings["low_keep_rate"] = f"keep rate {keep_rate:.3f} < {KEEP_RATE_WARN}"
    if pii_rate > PII_RATE_WARN:
        warnings["high_pii_rate"] = f"{pii_rate:.3f} of docs carried PII"
    if lang_mismatch > LANG_MISMATCH_WARN:
        warnings["high_lang_mismatch"] = f"{lang_mismatch:.3f} docs outside {cfg.allowed_langs}"

    return {
        "totals": {
            "n_docs": n_docs,
            "n_keep": n_keep,
            "keep_rate": keep_rate,
            "total_chars": agg["total_chars"],
            "total_words": agg["total_words"],
            "longest_doc_words": agg["longest_doc_words"],
            "mean_words": agg["mean_words"],
            "n50_words": n50_rows.get(50),
            "n90_words": n50_rows.get(90),
        },
        "quality": {
            "mean_word_len": agg["mean_word_len"],
            "mean_symbol_frac": agg["mean_symbol_frac"],
            "mean_dup_line_frac": agg["mean_dup_line_frac"],
            "mean_perplexity": agg["mean_perplexity"],
            "median_perplexity": agg["median_perplexity"],
        },
        "scrub": {
            "total_pii_matches": agg["total_pii_matches"],
            "n_docs_with_pii": agg["n_docs_with_pii"],
            "pii_rate": pii_rate,
            "total_tox_matches": agg["total_tox_matches"],
        },
        "langs": lang_counts,
        "reasons": reasons,
        "histograms": {"n_words_b50": len_hist, "perplexity_b500": ppl_hist},
        "fits": {
            "gamma_length": {"shape": gamma_shape, "scale": gamma_scale},
            "gmm_perplexity": gmm,
        },
        "warnings": warnings,
        "errors": errors,
    }


def _assert_same(ref, new, path="summary"):
    """Integers, strings and containers equal; floats to a relative 1e-9
    (one-pass sums add in a different order)."""
    assert type(new) is type(ref), f"{path}: {type(ref).__name__} vs {type(new).__name__}"
    if isinstance(ref, dict):
        assert new.keys() == ref.keys(), path
        for k in ref:
            _assert_same(ref[k], new[k], f"{path}.{k}")
    elif isinstance(ref, list):
        assert len(new) == len(ref), path
        for i, (a, b) in enumerate(zip(ref, new)):
            _assert_same(a, b, f"{path}[{i}]")
    elif isinstance(ref, float):
        assert new == pytest.approx(ref, rel=1e-9), path
    else:
        assert new == ref, path


@pytest.fixture(scope="module")
def labels_path(spark, corpus_path, tmp_path_factory):
    from longqc_spark.pipeline import qc_pipeline

    path = str(tmp_path_factory.mktemp("report") / "labels")
    qc_pipeline(spark.read.parquet(corpus_path)).write.parquet(path)
    return path


def test_summarize_matches_reference(spark, labels_path):
    """The one-pass summarize reproduces the multi-query reference on the
    smoke labels, an empty table, and an all-zero-length table carrying a
    reason outside cfg.rule_names."""
    from pyspark.sql import functions as F

    from longqc_spark.report import summarize

    labels = spark.read.parquet(labels_path)
    s = summarize(labels)
    _assert_same(_summarize_reference(labels), s)
    assert s["totals"]["n_docs"] == 1000

    empty = spark.createDataFrame([], labels.schema)
    s = summarize(empty)
    _assert_same(_summarize_reference(empty), s)
    assert s["totals"]["total_words"] is None and s["totals"]["n50_words"] is None
    assert s["fits"]["gamma_length"] == {"shape": 0.0, "scale": 0.0}
    assert s["fits"]["gmm_perplexity"] == []

    zero = labels.withColumn("n_words", F.lit(0).cast("long")).withColumn(
        "reasons",
        F.when(
            F.col("n_chars") % 3 == 0, F.array_append("reasons", F.lit("custom_rule"))
        ).otherwise(F.col("reasons")),
    )
    s = summarize(zero)
    _assert_same(_summarize_reference(zero), s)
    assert s["totals"]["n50_words"] == 0 and s["totals"]["n90_words"] == 0
    assert s["fits"]["gamma_length"] == {"shape": 0.0, "scale": 0.0}
    assert s["reasons"]["custom_rule"] > 0


def test_summarize_scans_labels_at_most_twice(spark, labels_path):
    """Scan discipline: one grouped aggregation plus one sample, so the
    label rows are materialized at most twice and at most 5 Spark jobs run
    (the multi-query version launched ~25)."""
    from longqc_spark.report import summarize

    labels = spark.read.parquet(labels_path)
    n = labels.count()
    acc = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    counted = labels.mapInPandas(count_rows, labels.schema)
    sc = spark.sparkContext
    sc.setJobGroup("summarize-scan-test", "summarize")
    try:
        s = summarize(counted)
    finally:
        sc._jsc.clearJobGroup()
    assert s["totals"]["n_docs"] == n
    assert acc.value <= 2 * n
    assert len(sc.statusTracker().getJobIdsForGroup("summarize-scan-test")) <= 5


def test_report_html_independent_of_shuffle_partitions(spark, labels_path, tmp_path):
    """The same labels render byte-identical HTML whatever the shuffle
    partitioning: reasons follow cfg.rule_names, langs and bins are sorted."""
    from longqc_spark.config import DEFAULT_CONFIG
    from longqc_spark.report import summarize, write_html_report

    labels = spark.read.parquet(labels_path)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    pages = []
    try:
        for n_parts in (2, 16):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
            s = summarize(labels)
            path = str(tmp_path / f"r{n_parts}.html")
            write_html_report(s, path)
            pages.append(open(path, "rb").read())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert pages[0] == pages[1]
    rules = [r for r in s["reasons"] if r in DEFAULT_CONFIG.rule_names]
    assert rules == [r for r in DEFAULT_CONFIG.rule_names if r in s["reasons"]]
    assert list(s["langs"]) == sorted(s["langs"])
    for hist in s["histograms"].values():
        assert list(hist) == sorted(hist)


def test_drift_report_stable_vs_shifted(spark, corpus_path):
    """Run-over-run PSI drift: identical label tables are stable on every
    metric; a truncated-text re-crawl shifts the length metrics into the
    'major' band while the orderable output puts the worst metric first."""
    from pyspark.sql import functions as F

    from longqc_spark.pipeline import qc_pipeline
    from longqc_spark.report import drift_report

    docs = spark.read.parquet(corpus_path)
    base = qc_pipeline(docs)
    same = drift_report(base, base).toPandas()
    assert (same.verdict == "stable").all()
    assert (same.psi.abs() < 1e-6).all()

    shifted = qc_pipeline(docs.withColumn("text", F.substring("text", 1, 80)))
    out = drift_report(base, shifted).toPandas()
    assert out.set_index("metric").loc["n_chars", "verdict"] == "major"
    # ordered by psi descending: the first row is the worst drift
    assert out.psi.iloc[0] == out.psi.max()
    # unknown metrics are skipped, not fatal; all-unknown raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="none of"):
        drift_report(base, shifted, metrics=("no_such_col",))
