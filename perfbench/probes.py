"""Measurements taken from outside the program: process RSS from ``/proc``,
Spark job and task counts per layer call, on-disk size of a label dir, and
single-process calls into ``kernels`` / ``models``."""

from __future__ import annotations

import contextlib
import os
import threading
import time

import numpy as np
import pandas as pd

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def is_python_worker(pid: int) -> bool:
    """The PySpark daemon and the workers it forks share its command line.
    Other JVM children (short-lived shell commands) are not counted: between
    fork and exec they report the JVM's own RSS."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """RSS of process ``root`` (the Spark JVM) and of its Python workers
    (the PySpark daemon and the workers it forks), sampled on a background
    thread. Keeps the peak of the sum, of the root, and of the largest
    single worker, and counts the worker processes seen."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = {"total": 0, "root": 0, "one_worker": 0}
        self.pids: set[int] = set()
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            root = _rss_bytes(self.root)
            kids = {p: _rss_bytes(p) for p in descendants(self.root) if is_python_worker(p)}
            self.pids.update(kids)
            for k, v in (
                ("total", root + sum(kids.values())),
                ("root", root),
                ("one_worker", max(kids.values(), default=0)),
            ):
                self.peak[k] = max(self.peak[k], v)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.peak.items()}

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class JobCounter:
    """Spark jobs and completed tasks per layer call, through job groups and
    the status tracker. ``group`` only tags the jobs; ``totals`` reads the
    tracker afterwards, outside any timed region."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self._groups: dict[str, list[str]] = {}

    @contextlib.contextmanager
    def group(self, layer: str):
        if not self.enabled:
            yield
            return
        gid = f"{layer}#{sum(map(len, self._groups.values()))}"
        self._groups.setdefault(layer, []).append(gid)
        self.sc.setJobGroup(gid, layer)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()

    def totals(self, layer: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for gid in self._groups.get(layer, []):
            for jid in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks


def dir_size(path: str) -> tuple[int, int]:
    """(regular files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer samples."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def _lm_inputs(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Token hashes and in-doc positions, as ``compute_stats`` feeds the LM."""
    from longqc_spark.models import hash_tokens

    split = texts.fillna("").str.lower().str.split()
    n_tok = np.fromiter(map(len, split), dtype=np.int64, count=len(split))
    flat = np.array([t for toks in split for t in toks], dtype=object)
    starts = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
    pos = np.arange(flat.size) - np.repeat(starts, n_tok)
    return hash_tokens(flat), pos


def kernel_harness(pdf: pd.DataFrame, cfg, batch: int, fused_extract: bool, tracer) -> dict:
    """Single-process ``kernels`` / ``models`` calls over the workload's own
    docs in batches of ``batch`` rows (the session's Arrow batch size).

    The per-batch time is what one ``mapInPandas`` batch costs in the
    pipeline: extraction (only when the workload fuses it) + stats + scrub."""
    from longqc_spark import kernels, models

    with tracer.span("models.load"):
        t0 = time.perf_counter()
        lid, lm = models.LangIdModel(), models.HashedNgramLM()
        load_s = time.perf_counter() - t0
    html = pdf["html"].reset_index(drop=True)
    texts = kernels.extract_text_batch(html) if fused_extract else pdf["text"].reset_index(drop=True)
    acc = dict(extract_s=0.0, extract_bytes=0, stats_s=0.0, scrub_s=0.0,
               langid_s=0.0, lm_s=0.0, lm_tokens=0)
    batch_ms: list[float] = []
    for lo in range(0, len(texts), batch):
        h = html.iloc[lo : lo + batch].reset_index(drop=True)
        tx = texts.iloc[lo : lo + batch].reset_index(drop=True)
        with tracer.span("kernels.extract_text_batch"):
            a = time.perf_counter()
            kernels.extract_text_batch(h)
            b = time.perf_counter()
        with tracer.span("kernels.compute_stats"):
            kernels.compute_stats(tx, langid_max_chars=cfg.langid_max_chars)
            c = time.perf_counter()
        with tracer.span("kernels.scrub_batch"):
            kernels.scrub_batch(tx, cfg)
            d = time.perf_counter()
        batch_ms.append(1000.0 * ((b - a if fused_extract else 0.0) + (d - b)))
        acc["extract_s"] += b - a
        acc["extract_bytes"] += int(h.map(len).sum())
        acc["stats_s"] += c - b
        acc["scrub_s"] += d - c
        hashes, pos = _lm_inputs(tx)
        with tracer.span("models.LangIdModel.score_batch"):
            e = time.perf_counter()
            lid.score_batch(tx.str.slice(0, cfg.langid_max_chars))
            f = time.perf_counter()
        with tracer.span("models.HashedNgramLM.token_logprobs_flat"):
            lm.token_logprobs_flat(hashes, pos)
            g = time.perf_counter()
        acc["langid_s"] += f - e
        acc["lm_s"] += g - f
        acc["lm_tokens"] += int(hashes.size)
    p_tail, pct = tail(batch_ms)
    n = len(texts)
    return {
        "models.load_s": load_s,
        "models.langid_docs_per_s": n / acc["langid_s"],
        "models.lm_tokens_per_s": acc["lm_tokens"] / acc["lm_s"],
        "kernels.stats_docs_per_s": n / acc["stats_s"],
        "kernels.scrub_docs_per_s": n / acc["scrub_s"],
        "kernels.extract_mb_per_s": acc["extract_bytes"] / 1e6 / acc["extract_s"],
        "kernels.batch_ms_p50": float(np.median(batch_ms)),
        "kernels.batch_ms_tail": p_tail,
        "kernels.batch_tail_pct": pct,
        "kernels.batch_samples": len(batch_ms),
        "kernel_s": sum(batch_ms) / 1000.0,
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"  # a zombie has exited


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive
