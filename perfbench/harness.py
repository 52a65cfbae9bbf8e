"""Pieces shared by the untraced run (``run.py``) and the traced run
(``layers.py``): the engine set-up, a pass over the mix, the oracle check
and the report rows."""

from __future__ import annotations

import gc
import json
import os
import time
from typing import Any, Dict, List, Optional, Tuple

import corpus
import mix

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# a request sent once to finish each set-up: it warms the engine's lazy
# driver caches (term dictionary, facet dimension)
FIRST_REQUEST = {"query": "spark", "per_page": 12}


def note(msg: str) -> None:
    print(f"# {msg}", flush=True)


def config() -> Dict[str, Any]:
    """A fresh engine configuration (``aggregation()`` mutates it)."""
    return json.loads(json.dumps(corpus.CONFIG))


def write_store(spark, rows, path: str) -> Dict[str, Any]:
    """Build from the transcripts DataFrame ``rows`` and write the block
    store at ``path``, in one bucket (the corpus is small). Returns
    ``write_blocks``' report plus its wall time as ``seconds``."""
    from itemsjs_spark.engine import build_index

    idx = build_index(spark, rows, config(), order_by=corpus.ORDER_BY)
    try:
        t0 = time.perf_counter()
        rep = idx.write_blocks(path, n_buckets=1)
        return dict(rep, seconds=time.perf_counter() - t0)
    finally:
        idx.unpersist()


def open_engine(spark, source: str, disk: bool):
    """Set the engine up from the stored table (``serve_mem``) or from the
    block store (``serve_disk``)."""
    from itemsjs_spark.engine import Index, SearchEngine, itemsjs_spark

    if disk:
        return SearchEngine(Index.read(spark, source))
    eng = itemsjs_spark(spark, spark.read.parquet(source), config(), order_by=corpus.ORDER_BY)
    return eng.materialize()


class Outcome:
    """One endpoint call: its normalised response or the error it raised."""

    def __init__(self, req, fn):
        self.error: Optional[str] = None
        self.value = None
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
            self.seconds = time.perf_counter() - t0
            self.error = f"{type(e).__name__}: {e}"
            return
        self.seconds = time.perf_counter() - t0
        self.raw = res
        self.value = mix.normalise(req, res)


def run_pass(eng, reqs, counter) -> List[Dict[str, Any]]:
    """Each request once, in order: its outcome and the Spark jobs it fired."""
    samples = []
    counter.take()
    for i, req in enumerate(reqs):
        gc.collect()  # the last response's garbage is not this request's cost
        out = Outcome(req, lambda: mix.call(eng, req))
        samples.append({"i": i, "out": out, "jobs": len(counter.take())})
    return samples


def expected(oracle, reqs) -> List[Outcome]:
    """The oracle's response to every distinct request."""
    return [Outcome(req, lambda: mix.call(oracle, req)) for req in reqs]


def problems(samples, reqs, want: List[Outcome]) -> List[Tuple[str, str]]:
    """(shape, why) for every sample that raised or differs from the oracle."""
    out = []
    for s in samples:
        got, ref = s["out"], want[s["i"]]
        why = got.error or (f"oracle raised {ref.error}" if ref.error else None)
        if why is None and got.value != ref.value:
            why = "response differs from the oracle"
        if why:
            out.append((reqs[s["i"]].shape, why))
    return out


def job_counter_self_check(eng, counter) -> int:
    """Jobs counted for one facet-only ``search()``. The engine fires such a
    search's jobs from threads that drop the caller's job group, so a count
    by job group would read 0 here; the counter must read at least 1."""
    counter.take()
    eng.search({"filters": {"role": ["user"]}, "per_page": 12})
    return len(counter.take())


class Phases:
    """Wall time of each phase of a run, printed as it ends."""

    def __init__(self):
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        note(f"phase {name}: {now - self._t:.1f} s")
        self._t = now


class Row:
    """One reported figure: value, unit, sample count and a remark."""

    def __init__(self, name: str, value: Optional[float], unit: str, n: Optional[int] = None, remark: str = ""):
        self.name, self.value, self.unit, self.n, self.remark = name, value, unit, n, remark

    def line(self) -> str:
        if self.value is None:
            return f"{self.name}: {self.remark}"
        n = "" if self.n is None else f" (n={self.n})"
        return f"{self.name} = {self.value:.6g} {self.unit}{n}{'; ' + self.remark if self.remark else ''}"

