"""Summary report stage: batch aggregates → driver-side fits → decision
cascade → JSON (+ optional HTML).

Transplants LongQC's aggregate/model/decision/report phases (reference
``longQC.py:449-517`` aggregates, ``462-686`` JSON dict, ``787-824`` warn/
error cascade, ``826-831`` jinja2 HTML).

``summarize`` reads the labels twice: one grouped aggregation (grouping sets
over a column-pruned projection; two Spark jobs under adaptive execution, a
shuffle-map job and a result job) and one ``limit``-bounded hash-priority
perplexity sample (one job). The aggregation collects 1 + distinct langs +
distinct ``n_words`` + ≤ 40 perplexity bins + distinct reasons rows to the
driver, so its size grows with the longest document, not with the document
count; fits run on those rows (sufficient statistics) or on the sample.
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import DataFrame, functions as F

from .config import DEFAULT_CONFIG, QCConfig
from .fits import gamma_mle, gmm_1d

# decision thresholds — the Q7-fraction warn/error analog
# (reference longQC.py:141-143: warn 0.65 / error 0.5)
KEEP_RATE_WARN = 0.5
KEEP_RATE_ERROR = 0.25
PII_RATE_WARN = 0.3
LANG_MISMATCH_WARN = 0.3


# grouping_id() of each grouping set over _GROUP_COLS: bit (3 - i) is set
# when column i is rolled up, so the grand total is 0b1111 and a set that
# groups only column i clears that one bit.
_GROUP_COLS = ("lang_pred", "n_words", "ppl_bin", "reason")
_GID_TOTAL = 0b1111
_SET_OF_GID = {_GID_TOTAL ^ (1 << (3 - i)): c for i, c in enumerate(_GROUP_COLS)}

_LEN_BIN_WIDTH = 50
_PPL_BIN_WIDTH = 500.0
_PPL_HIST_CAP = 20000


def _nxx(words_desc: list[tuple[int, int]], total: int | None, frac: float) -> int | None:
    """Exact NXX from (length, count) rows sorted by length descending: the
    smallest length whose running length-weighted sum reaches frac·total
    (the ``nxx`` window walk, one step per distinct length); None for no
    rows."""
    cum = 0
    for w, c in words_desc:
        cum += w * c
        if cum >= total * frac:
            return w


def _ordered(counts: dict, first: tuple = ()) -> dict:
    """Keys in ``first`` order, then the rest sorted, a None key last."""
    rest = sorted(k for k in counts if k is not None and k not in first)
    keys = [k for k in first if k in counts] + rest + ([None] if None in counts else [])
    return {k: counts[k] for k in keys}


def summarize(labels: DataFrame, cfg: QCConfig = DEFAULT_CONFIG, sample_n: int = 10_000) -> dict[str, Any]:
    """labels (qc_pipeline output) → nested summary dict (JSON-ready).

    One grouped aggregation computes every aggregate; a second bounded job
    draws the perplexity sample. ``reasons`` follow ``cfg.rule_names`` with
    unknown reasons sorted after them, ``langs`` are sorted and histogram
    bins ascend, so the same labels always render the same report."""
    per_reason = labels.select(
        "keep",
        "n_chars",
        "n_words",
        "mean_word_len",
        "symbol_char_frac",
        "dup_line_frac",
        "perplexity",
        "pii_match_count",
        "tox_match_count",
        "lang_pred",
        F.when(
            F.col("perplexity") < _PPL_HIST_CAP,
            F.floor(F.col("perplexity") / F.lit(_PPL_BIN_WIDTH)).cast("long"),
        ).alias("ppl_bin"),
        F.posexplode_outer("reasons").alias("pos", "reason"),
    )
    # a document spans one row per reason (one row when it has none); the
    # per-document aggregates read only its first row
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0

    def doc(c: str) -> F.Column:
        return F.when(first, F.col(c))

    rows = (
        per_reason.groupingSets([[]] + [[c] for c in _GROUP_COLS], *_GROUP_COLS)
        .agg(
            F.grouping_id().alias("gid"),
            F.count_if(first).alias("n"),
            F.count("pos").alias("n_reason"),
            F.count_if(first & F.col("keep")).alias("n_keep"),
            F.sum(doc("n_chars")).alias("total_chars"),
            F.avg(doc("mean_word_len")).alias("mean_word_len"),
            F.avg(doc("symbol_char_frac")).alias("mean_symbol_frac"),
            F.avg(doc("dup_line_frac")).alias("mean_dup_line_frac"),
            F.avg(doc("perplexity")).alias("mean_perplexity"),
            F.percentile(doc("perplexity"), F.lit(0.5)).alias("median_perplexity"),
            F.sum(doc("pii_match_count")).alias("total_pii_matches"),
            F.count_if(first & (F.col("pii_match_count") > 0)).alias("n_docs_with_pii"),
            F.sum(doc("tox_match_count")).alias("total_tox_matches"),
        )
        .collect()
    )
    # an empty table yields no grand-total row
    agg = next((r.asDict() for r in rows if r["gid"] == _GID_TOTAL), {})
    by_set: dict[str, dict] = {c: {} for c in _GROUP_COLS}
    for r in rows:
        c = _SET_OF_GID.get(r["gid"])
        if c is not None:
            by_set[c][r[c]] = r["n_reason"] if c == "reason" else r["n"]

    n_docs = agg.get("n", 0)
    n_keep = agg.get("n_keep", 0)

    # length-derived totals, N50/N90, histogram and gamma sufficient stats
    # all come from the exact (n_words → count) rows; NULL lengths count
    # toward none of them
    words = sorted((w, c) for w, c in by_set["n_words"].items() if w is not None)
    total_words = sum(w * c for w, c in words) if words else None
    n_with_words = sum(c for _, c in words)
    len_hist: dict[int, int] = {}
    for w, c in words:
        b = w // _LEN_BIN_WIDTH
        len_hist[b] = len_hist.get(b, 0) + c
    n50 = _nxx(words[::-1], total_words, 0.5)
    n90 = _nxx(words[::-1], total_words, 0.9)

    # fits: gamma from sufficient stats (MF1); GMM on a bounded deterministic
    # sample of perplexities (MF2) — SA1-replacement sampling
    positive = [(w, c) for w, c in words if w > 0]
    n_pos = sum(c for _, c in positive)
    gamma_shape, gamma_scale = (
        gamma_mle(
            sum(w * c for w, c in positive) / n_pos,
            math.fsum(c * math.log(w) for w, c in positive) / n_pos,
        )
        if n_pos
        else (0.0, 0.0)
    )
    ppl_sample = [
        r["perplexity"]
        for r in labels.select("perplexity")
        .orderBy(F.xxhash64("perplexity", F.lit(13)))
        .limit(sample_n)
        .collect()
    ]
    gmm = gmm_1d(ppl_sample, k=2) if len(ppl_sample) >= 10 else []

    lang_counts = _ordered(by_set["lang_pred"])
    # the NULL-reason group also holds the reason-less documents (pos NULL)
    reasons = _ordered({k: v for k, v in by_set["reason"].items() if v}, cfg.rule_names)
    ppl_hist = dict(sorted((b, n) for b, n in by_set["ppl_bin"].items() if b is not None))

    keep_rate = n_keep / n_docs if n_docs else 0.0
    n_docs_with_pii = agg.get("n_docs_with_pii", 0)
    pii_rate = n_docs_with_pii / n_docs if n_docs else 0.0
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
            "total_chars": agg.get("total_chars"),
            "total_words": total_words,
            "longest_doc_words": words[-1][0] if words else None,
            "mean_words": total_words / n_with_words if words else None,
            "n50_words": n50,
            "n90_words": n90,
        },
        "quality": {
            "mean_word_len": agg.get("mean_word_len"),
            "mean_symbol_frac": agg.get("mean_symbol_frac"),
            "mean_dup_line_frac": agg.get("mean_dup_line_frac"),
            "mean_perplexity": agg.get("mean_perplexity"),
            "median_perplexity": agg.get("median_perplexity"),
        },
        "scrub": {
            "total_pii_matches": agg.get("total_pii_matches"),
            "n_docs_with_pii": n_docs_with_pii,
            "pii_rate": pii_rate,
            "total_tox_matches": agg.get("total_tox_matches"),
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


# stat-vector columns a run-over-run drift check watches by default: the
# continuous quality signals whose distribution shifting means the UPSTREAM
# corpus changed (scraper regression, spam wave), plus keep itself (a 0/1
# column PSI-bins cleanly) so decision drift is visible even when every
# individual signal moves sub-threshold.
DRIFT_METRICS: tuple[str, ...] = (
    "n_chars",
    "n_words",
    "mean_word_len",
    "symbol_char_frac",
    "alpha_char_frac",
    "stopword_count",
    "dup_line_frac",
    "perplexity",
    "keep",
)


def drift_report(
    prev_labels: DataFrame,
    new_labels: DataFrame,
    metrics: tuple[str, ...] = DRIFT_METRICS,
    n_bins: int = 10,
) -> DataFrame:
    """Run-over-run distribution drift: PSI of each stat-vector column
    between a PREVIOUS run's committed labels (the reference) and the
    current run's — the release-over-release QC-summary comparison a
    production filter pipeline alerts on (reference analog: eyeballing two
    batches' HTML report histograms, ``lq_nanopore.py:294-314``,
    mechanized). → ``(metric, psi, verdict)`` ordered by psi descending;
    verdicts use the standard PSI bands (<0.1 stable, <0.25 moderate,
    else major).

    Scale: one ``score_drift`` plan per metric — each is two partial-agg
    groupBys of ≤ ``n_bins`` rows; the k metric plans share the two label
    scans via Spark's scan reuse, and everything stays lazy until the
    caller collects."""
    from .operators.web import score_drift

    per_metric = []
    for m in metrics:
        if m not in prev_labels.columns or m not in new_labels.columns:
            continue
        a = prev_labels.select(F.col(m).cast("double").alias("_s"))
        b = new_labels.select(F.col(m).cast("double").alias("_s"))
        per_metric.append(
            score_drift(a, b, "_s", n_bins=n_bins).agg(
                F.lit(m).alias("metric"),
                F.round(F.sum("psi_term"), 6).alias("psi"),
            )
        )
    if not per_metric:
        raise ValueError(f"none of {metrics} present in both label tables")
    out = per_metric[0]
    for p in per_metric[1:]:
        out = out.unionByName(p)
    return out.select(
        "metric",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("major")
        .alias("verdict"),
    ).orderBy(F.col("psi").desc(), "metric")


def write_json_report(summary: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True, default=float)


_HTML_TPL = """<!doctype html><html><head><meta charset="utf-8">
<title>longqc-spark QC report</title></head><body>
<h1>Web-text QC summary</h1>
<h2>Decisions</h2>
{% if summary.errors %}<ul>{% for k, v in summary.errors.items() %}
<li style="color:red"><b>ERROR {{k}}</b>: {{v}}</li>{% endfor %}</ul>{% endif %}
{% if summary.warnings %}<ul>{% for k, v in summary.warnings.items() %}
<li style="color:orange"><b>WARN {{k}}</b>: {{v}}</li>{% endfor %}</ul>{% endif %}
{% if not summary.errors and not summary.warnings %}<p>all checks passed</p>{% endif %}
<h2>Totals</h2><table border="1">
{% for k, v in summary.totals.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
<h2>Drop reasons</h2><table border="1">
{% for k, v in summary.reasons.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
<h2>Languages</h2><table border="1">
{% for k, v in summary.langs.items() %}<tr><td>{{k}}</td><td>{{v}}</td></tr>{% endfor %}
</table>
</body></html>"""


def write_html_report(summary: dict, path: str) -> None:
    """Minimal HTML render (reference web_summary template analog)."""
    import jinja2

    html = jinja2.Template(_HTML_TPL).render(summary=summary)
    with open(path, "w") as f:
        f.write(html)
