"""Traced run: spans around the benchmark's calls into each engine layer.

For every request the root span wraps the endpoint call; the layer calls
that endpoint composes are then replayed, each in a child span:

* ``analysis.query``: ``build_pipeline`` + ``tokenize`` on the query string;
* ``core.compile``: ``SearchEngine.compile(input, has_query)``;
* ``query.fulltext_plan`` / ``query.fulltext_exec``: building
  ``fulltext_hits(q)``, then its ``.count()``;
* ``blocks.decode``: ``Index.postings_subset(terms).count()`` on a block
  store (``serve_disk`` only);
* ``query.result_plan``: ``result_df(input)`` construction;
* ``query.facets``: ``get_buckets(input)``;
* ``query.page`` / ``query.total``: the page collect and ``.count()`` of
  ``result_df``;
* ``query.similar``: ``similar_df`` + its count + its page.

The build is traced the same way: before the real set-up, its steps run
one by one under a ``build`` root (``build.*``), with Spark storage read
before and after each step's materialization (``cache.*``); then the real
set-up runs in a ``setup`` span. A span records its name, start, end, parent and request id, and the Spark
jobs and tasks that appeared while it ran. Spans stay in memory and are
written to ``perfbench/.work`` when the run ends.

An untraced pass over the whole mix warms the engine and is checked against
the oracle first. Then only ``TRACED_SHAPES`` are traced and replayed, to
keep a traced run short. Each layer figure is the median over the traced
requests whose replay has that span. Their endpoint latency is measured
again in an untraced pass after the traced one; the difference is the
tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import asdict, dataclass
from typing import Any, Callable, Dict, List, Optional, Tuple

import corpus
import harness
import mix
from sparkstats import JobCounter, busy_ms, storage, storage_mb

ROUTES = ("standard_scan", "facet_blocks", "wand_topk", "wand_filtered")
# the shapes whose layer calls are replayed: every span kind, a single
# term, a wide prefix, a conjunction with filters, a sorted browse page,
# aggregation() and similar()
TRACED_SHAPES = (
    "common_term", "prefix_wide", "conj2_filters",
    "dnf_sorted_page", "aggregation_tags", "similar_tags",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: Optional[int]
    request: Optional[int]
    start_ms: float
    end_ms: float
    jobs: int
    tasks: int
    busy_ms: float

    @property
    def ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    def __init__(self, spark):
        self.counter = JobCounter(spark)
        self.spans: List[Span] = []

    def start(self, name: str, parent: Optional[Span] = None, request: Optional[int] = None) -> Span:
        self.counter.take()
        sp = Span(len(self.spans), name, parent.span_id if parent else None, request,
                  time.time() * 1e3, 0.0, 0, 0, 0.0)
        self.spans.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        """Close ``sp``; it is charged the jobs since the last start or finish."""
        sp.end_ms = time.time() * 1e3
        jobs = self.counter.take()
        sp.jobs = len(jobs)
        sp.tasks = sum(j.tasks for j in jobs)
        sp.busy_ms = busy_ms(jobs, sp.start_ms, sp.end_ms)

    def span(self, name: str, fn: Callable[[], Any], parent: Optional[Span] = None,
             request: Optional[int] = None) -> Tuple[Any, Span]:
        sp = self.start(name, parent, request)
        out = fn()
        self.finish(sp)
        return out, sp

    def children(self, root: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == root.span_id]

    def self_ms(self) -> Dict[str, float]:
        """Median self time per span name: duration minus its children's."""
        by: Dict[str, List[float]] = {}
        for s in self.spans:
            kids = sum(c.ms for c in self.children(s))
            by.setdefault(s.name, []).append(s.ms - kids)
        return {k: statistics.median(v) for k, v in sorted(by.items())}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _paging(inp: Dict[str, Any]) -> Tuple[int, int]:
    """(per_page, page) with the engine's JS-truthiness defaults: a
    ``per_page`` of 0, as ``aggregation()`` sends, still fetches 12 items."""
    return int(inp.get("per_page") or 12), int(inp.get("page") or 1)


def replay(tr: Tracer, eng, req: mix.Request, root: Span, rid: int, terms: List[str]) -> Dict[str, float]:
    """Replay the layer calls behind one endpoint call; returns counts."""
    from itemsjs_spark.analysis.lunr_analysis import build_pipeline, tokenize

    def sp(name, fn):
        return tr.span(name, fn, parent=root, request=rid)

    counts: Dict[str, float] = {}
    if req.endpoint == "similar":
        per_page, page = _paging(req.input)

        def similar():
            df = eng.similar_df(req.anchor, dict(req.input))
            df.count()
            return df.offset((page - 1) * per_page).limit(per_page).collect()

        sp("query.similar", similar)
        return counts
    inp = dict(req.input)
    if req.endpoint == "aggregation":
        inp.update(page=1, per_page=0)
    q = inp.get("query")
    if q:
        cfg = eng.configuration
        tokens, _ = sp("analysis.query", lambda: build_pipeline(
            is_exact_search=bool(cfg.get("isExactSearch")),
            remove_stop_word_filter=bool(cfg.get("removeStopWordFilter")),
        )(tokenize(q)))
    sp("core.compile", lambda: eng.compile(dict(inp), has_query=bool(q)))
    if q:
        hits, _ = sp("query.fulltext_plan", lambda: eng.fulltext_hits(q))
        counts["hits"], _ = sp("query.fulltext_exec", hits.count)
        if eng.index.posting_blocks is not None:
            expanded = [t for t in terms if any(t.startswith(tok) for tok in tokens)]
            counts["rows_decoded"], _ = sp(
                "blocks.decode", lambda: eng.index.postings_subset(expanded).count()
            )
    df, _ = sp("query.result_plan", lambda: eng.result_df(dict(inp)))
    sp("query.facets", lambda: eng.get_buckets(dict(inp)))
    per_page, page = _paging(inp)
    sp("query.page", lambda: df.offset((page - 1) * per_page).limit(per_page).collect())
    sp("query.total", df.count)
    eng.release_expansion_caches()
    return counts


def replay_build(tr: Tracer, spark, table: str, out: Dict[str, float]) -> None:
    """The build steps, each in a child span of a ``build`` root, with Spark
    storage read before and after each step's materialization. Runs before
    the real set-up and releases its caches, so that neither reuses the
    other's cached plans."""
    from itemsjs_spark.engine import DOCID, build_index

    root = tr.start("build")

    def step(name: str, fn, cache: Optional[str] = None):
        before = storage(spark)
        res, s = tr.span(name, fn, parent=root)
        out[name + "_s"] = s.ms / 1e3
        if cache:
            after = storage(spark)
            out[cache] = sum(mem for rid, mem in after.items() if rid not in before) / 1e6
        return res

    idx = step("build.docids", lambda: build_index(
        spark, spark.read.parquet(table), harness.config(), order_by=corpus.ORDER_BY
    ), "cache.docs_mb")
    step("build.facet_dim", idx.facet_values.count, "cache.facet_values_mb")
    # the tokenizer alone: a count of the unshuffled, uncached postings
    out["build.n_postings"] = step("build.tokenize", idx.postings.count)
    postings = idx.postings.repartition(spark.sparkContext.defaultParallelism, DOCID).persist()
    step("build.postings_shuffle", postings.count, "cache.postings_mb")
    terms = idx.terms.persist()
    out["build.n_terms"] = step("build.terms", terms.count, "cache.terms_mb")
    tr.finish(root)
    for df in (postings, terms):
        df.unpersist()
    idx.unpersist()


def real_setup(tr: Tracer, spark, table: str, disk: bool, out: Dict[str, float], store: str):
    """The set-up the untraced run times, as one span. On ``serve_disk`` it
    writes a fresh block store, so ``blocks.encode_s`` is measured."""
    from itemsjs_spark.engine import Index, SearchEngine

    def setup():
        if disk:
            rep = harness.write_store(spark, spark.read.parquet(table), store)
            out["blocks.encode_s"] = rep["seconds"]
            out["store_bytes"] = sum(m["bytes"] for m in rep["manifests"])
            out["store_rows"] = sum(m["rows"] for m in rep["manifests"])
            eng = SearchEngine(Index.read(spark, store))
        else:
            eng = harness.open_engine(spark, table, disk=False)
        eng.search(dict(harness.FIRST_REQUEST))
        return eng

    eng, root = tr.span("setup", setup)
    out["setup_s"] = root.ms / 1e3
    return eng


def traced_run(spark, args, box, table, disk, oracle, reqs, run_dir: str) -> Dict[str, Any]:
    """The ``--trace 1`` run: per-layer figures in place of end-to-end ones."""
    phase = harness.Phases()
    tr = Tracer(spark)
    layer: Dict[str, float] = {}
    replay_build(tr, spark, table, layer)
    eng = real_setup(tr, spark, table, disk, layer, os.path.join(run_dir, "store"))
    phase("traced build and set-up")
    after_setup_mb = storage_mb(spark)
    # an untraced pass over the whole mix warms the engine and is checked
    # against the oracle
    want = harness.expected(oracle, reqs)
    counter = JobCounter(spark)
    warm = harness.run_pass(eng, reqs, counter)
    wrong = harness.problems(warm, reqs, want)
    self_check = harness.job_counter_self_check(eng, counter)
    phase("warm pass")
    terms = [r["term"] for r in eng.index.terms.select("term").collect()]
    routes = {r: 0 for r in ROUTES}
    for req in reqs:
        if req.endpoint != "similar":
            route = eng.explain_search(dict(req.input))["route"]
            routes[route] = routes.get(route, 0) + 1

    traced = [i for i, req in enumerate(reqs) if req.shape in TRACED_SHAPES]
    per_req: List[Dict[str, Any]] = []
    for i in traced:
        req = reqs[i]
        out, root = tr.span(f"endpoint.{req.endpoint}", lambda: harness.Outcome(req, lambda: mix.call(eng, req)), request=i)
        wrong += harness.problems([{"i": i, "out": out}], reqs, want)
        counts = replay(tr, eng, req, root, i, terms)
        items = len(out.raw["data"].get("items") or []) if out.value is not None else 0
        per_req.append({"root": root, "counts": counts, "items": items})
    phase("traced pass")
    untraced = [harness.Outcome(reqs[i], lambda: mix.call(eng, reqs[i])).seconds * 1e3 for i in traced]
    phase("untraced pass")
    leak_mb = storage_mb(spark) - after_setup_mb

    def med(name: str, attr: str = "ms") -> float:
        vals = [getattr(s, attr) for s in tr.spans if s.name == name]
        return statistics.median(vals) if vals else 0.0

    def med_of(vals: List[float]) -> float:
        return statistics.median(vals) if vals else 0.0

    hits_per_item = [
        r["counts"]["hits"] / r["items"] for r in per_req if "hits" in r["counts"] and r["items"]
    ]
    m: Dict[str, float] = {
        "analysis.query_ms": med("analysis.query"),
        "core.compile_ms": med("core.compile"),
        "query.fulltext_plan_ms": med("query.fulltext_plan"),
        "query.fulltext_exec_ms": med("query.fulltext_exec"),
        "query.fulltext_jobs": med("query.fulltext_exec", "jobs"),
        "query.fulltext_tasks": med("query.fulltext_exec", "tasks"),
        "query.fulltext_hits": med_of([r["counts"]["hits"] for r in per_req if "hits" in r["counts"]]),
        "query.result_plan_ms": med("query.result_plan"),
        "query.facets_ms": med("query.facets"),
        "query.facets_jobs": med("query.facets", "jobs"),
        "query.page_ms": med("query.page"),
        "query.page_jobs": med("query.page", "jobs"),
        "query.total_ms": med("query.total"),
        "query.total_jobs": med("query.total", "jobs"),
        "query.similar_ms": med("query.similar"),
        "query.similar_jobs": med("query.similar", "jobs"),
        "query.hits_per_item": med_of(hits_per_item),
        "query.driver_ms": med_of([r["root"].ms - r["root"].busy_ms for r in per_req]),
        "query.compose_gap_ms": med_of([
            r["root"].ms - sum(c.ms for c in tr.children(r["root"])) for r in per_req
        ]),
        "blocks.decode_ms": med("blocks.decode"),
        "blocks.rows_decoded": med_of([r["counts"]["rows_decoded"] for r in per_req if "rows_decoded" in r["counts"]]),
        "blocks.encode_s": layer.get("blocks.encode_s", 0.0),
        "blocks.store_bytes_per_posting": (
            layer["store_bytes"] / layer["store_rows"] if disk else 0.0
        ),
        "blocks.store_bytes_per_input_byte": (
            layer["store_bytes"] / box["stored_bytes"] if disk else 0.0
        ),
    }
    for r in ROUTES:
        m[f"route.{r}"] = routes[r]
    for r in set(routes) - set(ROUTES):
        harness.note(f"route {r}: {routes[r]} requests (a route this benchmark does not report)")
    for k in ("build.docids_s", "build.facet_dim_s", "build.tokenize_s", "build.postings_shuffle_s",
              "build.terms_s", "build.n_postings", "build.n_terms", "cache.docs_mb",
              "cache.postings_mb", "cache.terms_mb", "cache.facet_values_mb"):
        m[k] = layer[k]
    m["cache.request_leak_mb"] = leak_mb
    m["trace.overhead_ms"] = med_of([r["root"].ms - u for r, u in zip(per_req, untraced)])

    harness.note("per-layer self time, median ms over the spans of each name:")
    for name, v in tr.self_ms().items():
        harness.note(f"  {name:<24} {v:10.2f}")
    harness.note("the root spans' self time (query.compose_gap_ms) is negative where the replayed "
                 "layer calls each recompute work that the endpoint shares between them")
    if disk:
        harness.note("query.similar_* read 0: serve_disk sends no similar()")
    else:
        harness.note("blocks.* read 0: serve_mem has no block store, so no block is encoded or decoded")
    harness.note(f"set-up traced: {layer['setup_s']:.3f} s")
    spans_path = os.path.join(harness.WORK, f"spans-{args.workload}-{args.seed}.json")
    tr.write(spans_path)
    harness.note(f"{len(tr.spans)} spans written to {os.path.relpath(spans_path, harness.ROOT)}")
    return {
        "rows": [harness.Row(k, v, unit_of(k)) for k, v in m.items()],
        "result": tuple(m),
        "attempted": len(reqs) + len(traced),
        "failed": len(wrong),
        "problems": wrong,
        "facet_only_jobs": self_check,
    }


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_jobs", "jobs"), ("_tasks", "tasks")):
        if name.endswith(suffix):
            return unit
    if name.startswith("route."):
        return "requests"
    if "bytes_per" in name:
        return "ratio"
    return "count"
