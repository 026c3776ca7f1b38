"""Seeded input tables for the QC-job benchmark.

Every document is a pure function of ``(seed, workload tag, doc id)``: it is
drawn from its own ``numpy`` generator through the corpus classes of
``longqc_spark.corpus`` (the same per-doc scheme as ``ccsource``), so the
same seed gives byte-identical tables at any worker count. The table is
written as ``n_files`` parquet files of one row group each; at these sizes
Spark's 4 MB per-file open cost still packs them into about one split per
core.

Variants:

* ``text``     all eleven corpus classes, full corpus schema with the
               ``text`` column pre-extracted; payloads are distinct (the
               metadata counts any collision).
* ``html_dup`` same mixture, only ``url, warc_ts, html, lang``; a planted
               share of rows copies the html payload of another row under a
               distinct url.
* ``stub``     mixture weighted to the short ``stub`` class.

Tables are cached under the benchmark's work dir, keyed by workload, seed,
size and layout; ``meta.json`` is written last and marks a complete entry.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

GEN_VERSION = 1
DUP_SHARE = 0.12
STUB_SHARE = 0.75
_TAGS = {"text": 1, "html_dup": 2, "stub": 3}


def class_probs(variant: str) -> np.ndarray:
    from longqc_spark.corpus import _CLASS_P, CLASSES

    p = np.asarray(_CLASS_P, dtype=np.float64)
    if variant != "stub":
        return p
    s = CLASSES.index("stub")
    rest = p.copy()
    rest[s] = 0.0
    rest *= (1.0 - STUB_SHARE) / rest.sum()
    rest[s] = STUB_SHARE
    return rest


def _is_dup(seed: int, tag: int, i: int) -> bool:
    return np.random.default_rng([seed, tag, i, 1]).random() < DUP_SHARE


def _prose(seed: int, tag: int, i: int, probs: np.ndarray) -> tuple[str, str, int, str]:
    """(class, prose, host, claimed lang) of document ``i``."""
    from longqc_spark.corpus import CLASSES, _gen_text

    rng = np.random.default_rng([seed, tag, i])
    cls = CLASSES[int(rng.choice(len(CLASSES), p=probs))]
    host = int(min(rng.zipf(1.5), 500))
    prose, lang = _gen_text(rng, cls)
    return cls, prose, host, lang


def _write_part(job: tuple) -> dict:
    """Generate docs ``[lo, hi)`` into one parquet file; returns its counts
    and the md5 of every row's payload (html for ``html_dup``, text
    otherwise — the column the pipeline digests)."""
    path, variant, seed, lo, hi, n_docs = job
    import pandas as pd

    from longqc_spark.corpus import _EPOCH, _render_html
    from longqc_spark.kernels import extract_text_batch

    tag = _TAGS[variant]
    probs = class_probs(variant)
    urls, ts, htmls, langs = [], [], [], []
    for i in range(lo, hi):
        cls, prose, host, lang = _prose(seed, tag, i, probs)
        url = f"https://host{host}.example/{cls}/p{i}"
        if variant == "html_dup" and _is_dup(seed, tag, i):
            # copy the payload of a non-duplicate row; the url stays distinct
            rng = np.random.default_rng([seed, tag, i, 2])
            j = int(rng.integers(0, n_docs))
            while j == i or _is_dup(seed, tag, j):
                j = int(rng.integers(0, n_docs))
            src_cls, prose, _, lang = _prose(seed, tag, j, probs)
            url = f"https://mirror{host}.example/{src_cls}/p{i}"
        urls.append(url)
        ts.append(_EPOCH + dt.timedelta(seconds=i))
        htmls.append(_render_html(prose))
        langs.append(lang)
    pdf = pd.DataFrame({"url": urls, "warc_ts": ts, "html": htmls, "lang": langs})
    if variant == "html_dup":
        payload = pdf["html"]
    else:
        pdf["text"] = extract_text_batch(pdf["html"])
        pdf = pdf[["url", "warc_ts", "html", "text", "lang"]]
        payload = pdf["text"].str.encode("utf-8")
    pdf.to_parquet(path, index=False, coerce_timestamps="us", row_group_size=len(pdf) + 1)
    return {
        "n": len(pdf),
        "payload_bytes": int(payload.map(len).sum()),
        "md5": [hashlib.md5(b).hexdigest() for b in payload],
    }


def generate(cache_dir: str, workload: str, variant: str, seed: int, n_docs: int,
             n_files: int, procs: int) -> dict:
    """Build (or reuse) the table; returns its metadata, including the
    input dir, doc count, payload bytes and planted-duplicate count."""
    key = f"{workload}-s{seed}-n{n_docs}-f{n_files}-g{GEN_VERSION}"
    out = os.path.join(cache_dir, key)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        os.utime(out)  # most recently used, for prune()
        with open(meta_path) as f:
            return {**json.load(f), "path": os.path.join(out, "data")}
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    os.makedirs(data)
    bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
    entropy = seed % 2**64  # numpy seeds must be non-negative
    jobs = [
        (os.path.join(data, f"part-{k:04d}.parquet"), variant, entropy, int(lo), int(hi), n_docs)
        for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        if hi > lo
    ]
    # one worker process per core, each writing a share of the files
    shares = [jobs[k::procs] for k in range(min(procs, len(jobs)))]
    workers = [
        subprocess.Popen([sys.executable, os.path.abspath(__file__)],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in shares
    ]
    for w, share in zip(workers, shares):
        w.stdin.write(json.dumps(share))
        w.stdin.close()
    parts = []
    for w in workers:
        out_json = w.stdout.read()
        if w.wait() != 0:
            raise RuntimeError(f"input generator worker exited with {w.returncode}")
        parts.extend(json.loads(out_json))
    digests = [d for p in parts for d in p["md5"]]
    meta = {
        "workload": workload,
        "variant": variant,
        "seed": seed,
        "path": data,
        "n_docs": sum(p["n"] for p in parts),
        "n_files": len(jobs),
        "payload_bytes": sum(p["payload_bytes"] for p in parts),
        "distinct_payloads": len(set(digests)),
        "planted_dups": len(digests) - len(set(digests)),
    }
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def prune(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used cache entries."""
    if not os.path.isdir(cache_dir):
        return
    entries = sorted(
        (os.path.join(cache_dir, n) for n in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for e in entries[keep:]:
        shutil.rmtree(e, ignore_errors=True)


if __name__ == "__main__":
    # worker mode: a JSON list of _write_part jobs on stdin, results on stdout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps([_write_part(tuple(j)) for j in json.load(sys.stdin)]))
