"""Correctness gate: the committed labels of one QC job against the pure-pandas
reference labeler on a deterministic hash-selected subset of the input, plus
row, bucket and dedup accounting. Runs outside every timed window."""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd

# one url in eight: md5(url) first byte below 32
SUBSET_BYTE = 32
MIN_F1 = 0.99


def in_subset(url: str) -> bool:
    return hashlib.md5(url.encode("utf-8")).digest()[0] < SUBSET_BYTE


class Oracle:
    """Expected output of a job over one input table, computed once per run."""

    def __init__(self, input_dir: str, dedup: bool, cfg) -> None:
        from longqc_spark.kernels import extract_text_batch
        from longqc_spark.labeler import label_corpus

        files = sorted(glob.glob(f"{input_dir}/*.parquet"))
        pdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        self.n_input = len(pdf)
        wide = "text" if "text" in pdf.columns else "html"
        payload = pdf[wide].map(
            lambda v: hashlib.md5(v if isinstance(v, bytes) else v.encode("utf-8")).digest()
        )
        if dedup:
            # the lineage dedup keeps the smallest url of each distinct payload
            winner = pdf.groupby(payload)["url"].transform("min") == pdf["url"]
        else:
            winner = pd.Series(True, index=pdf.index)
        self.n_expected = int(winner.sum())
        self.n_dups = self.n_input - self.n_expected
        mask = pdf["url"].map(in_subset)
        sub = pdf[mask].reset_index(drop=True)
        if "text" not in sub.columns:
            sub["text"] = extract_text_batch(sub["html"])
        ref = label_corpus(sub, cfg)
        self.ref = ref[["url", "keep", "scrubbed_text"]].assign(
            present=winner[mask].reset_index(drop=True)
        )
        self.subset_urls = sub["url"].tolist()
        self.docs = pdf


def read_committed(out_dir: str, manifest: dict) -> pd.DataFrame:
    """The committed label rows, read with pyarrow rather than Spark: the
    directory ``lineage.read_labels`` reads, with the same hidden-file rules."""
    import pyarrow.dataset as ds

    root = os.path.join(out_dir, manifest.get("data_root", "data"))
    return ds.dataset(root, format="parquet", partitioning="hive").to_table(
        columns=["url", "keep", "scrubbed_text"]).to_pandas()


def check(out_dir: str, manifest: dict, summary: dict, oracle: Oracle,
          n_buckets: int) -> dict:
    """Returns {label_f1, scrub_mismatch_docs, dedup_recall, problems}."""
    problems: list[str] = []
    committed = len(manifest["committed"])
    if committed != n_buckets:
        problems.append(f"committed buckets {committed} != {n_buckets}")
    labels = read_committed(out_dir, manifest)
    if len(labels) != oracle.n_expected:
        problems.append(f"labels rows {len(labels)} != expected {oracle.n_expected}")
    if summary["totals"]["n_docs"] != oracle.n_expected:
        problems.append(f"report n_docs {summary['totals']['n_docs']} != {oracle.n_expected}")

    got = labels[labels["url"].isin(oracle.subset_urls)]
    m = oracle.ref.merge(got, on="url", how="left", suffixes=("_ref", "_got"))
    found = m["keep_got"].notna()
    wrong_presence = int((found != m["present"]).sum())
    if wrong_presence:
        problems.append(f"{wrong_presence} subset docs present/absent against the dedup rule")
    both = m[found & m["present"]]
    ref_keep = both["keep_ref"].astype(bool)
    got_keep = both["keep_got"].astype(bool)
    tp = int((ref_keep & got_keep).sum())
    fp = int((~ref_keep & got_keep).sum())
    fn = int((ref_keep & ~got_keep).sum())
    f1 = 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)
    if f1 < MIN_F1:
        problems.append(f"label F1 {f1:.4f} < {MIN_F1}")
    scrub_bad = int((both["scrubbed_text_ref"] != both["scrubbed_text_got"]).sum())
    if scrub_bad:
        problems.append(f"{scrub_bad} subset docs with scrubbed_text unlike the labeler's")

    dropped = sum(v["metrics"].get("n_dup_dropped", 0.0) for v in manifest["committed"].values())
    # no duplicates to find counts as full recall
    recall = dropped / oracle.n_dups if oracle.n_dups else 1.0
    if recall != 1.0:
        problems.append(f"dedup recall {recall:.4f} != 1.0 ({dropped} of {oracle.n_dups})")
    return {
        "label_f1": f1,
        "scrub_mismatch_docs": scrub_bad,
        "dedup_recall": recall,
        "problems": problems,
    }
