"""Seeded request mix, endpoint dispatch and response normalisation.

The mix is a fixed list of request *shapes*; the seed picks the words,
facet values and anchors that fill them. Long-tail words are taken at a
fixed frequency rank (a mid-tail term, a rare term), so that every seed
yields about the same amount of work per shape. The text shapes cover common, mid-tail
and rare single terms, 2-3 term conjunctions, a short prefix with a small
fan-out, a head prefix expanding past the engine's 256-term literal-map
switch, and query + filters / not_filters. The browse shapes carry no query
text: a ``filters_query`` DNF with not_filters under a configured sort on a
later page, ``aggregation()`` under a selective filter, and ``similar()``.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Dict, List

import corpus

# transcripts VOCAB content words (stopwords and facet-ish words left out)
COMMON = [
    "spark", "join", "shuffle", "partition", "broadcast", "skew", "index",
    "merge", "scan", "filter", "score", "query", "token", "block",
    "checkpoint", "lineage", "executor", "driver", "snapshot", "commit",
]
PER_PAGE = 12


@dataclass
class Request:
    shape: str
    endpoint: str  # search | aggregation | similar
    input: Dict[str, Any] = field(default_factory=dict)
    anchor: Any = None  # similar() id

    @property
    def has_query(self) -> bool:
        return bool(self.input.get("query"))


def build_mix(seed: int, items: List[Dict[str, Any]]) -> List[Request]:
    """The request list of one pass over the corpus ``items``, in a seeded
    order. Facet values come from the corpus: a filter on a value absent
    from the facet index raises, in the reference as in the engine."""
    rng = random.Random(f"mix-{seed}")
    ids = [it["id"] for it in items]
    tools = sorted({it["tool"] for it in items if "tool" in it})
    by_count = Counter(t for it in items for t in it.get("tags") or [])
    ranked = sorted(by_count, key=lambda t: (-by_count[t], t))
    common_tag, mid_tag = ranked[0], ranked[len(ranked) // 2]
    tail = corpus.tail_vocabulary(seed)
    c1, c2, c3, c4 = rng.sample(COMMON, 4)

    def q(shape, text, page=1, **extra):
        return Request(shape, "search", dict(query=text, page=page, per_page=PER_PAGE, **extra))

    def b(shape, page=1, **extra):
        return Request(shape, "search", dict(page=page, per_page=PER_PAGE, **extra))

    conv = ids[rng.randrange(len(ids))].split(":")[0]
    # 7 query-bearing shapes (0.6-1.4 s each on a 4-core box) to 3 browse
    # shapes (about 0.3 s): the mix's median falls inside the text cluster,
    # not in the gap between the two clusters
    reqs = [
        q("common_term", c1),
        q("rare_term", tail[100]),
        q("conj3", f"{c2} {c3} {tail[2]}"),
        q("prefix_small", tail[10][:4]),
        q("prefix_wide", rng.choice(corpus.HEADS)),
        q("conj2_filters", f"{c4} {c1}", page=3, filters={"role": ["assistant"]}),
        q(
            "midtail_not_filters",
            tail[15],
            page=2,
            filters={"tags": [common_tag]},
            not_filters={"tool": [rng.choice(tools)]},
        ),
        b(
            "dnf_sorted_page",
            page=5,
            sort="by_turn",
            filters_query=f"(tags:{mid_tag} OR tags:{common_tag}) AND role:{rng.choice(['user', 'assistant'])}",
            not_filters={"tool": rng.sample(tools, 2)},
        ),
        Request(
            "aggregation_tags",
            "aggregation",
            {"name": "tags", "per_page": 10, "filters": {"conv_id": [conv]}},
        ),
        Request(
            "similar_tags",
            "similar",
            {"field": "tags", "minimum": 1, "per_page": PER_PAGE},
            ids[rng.randrange(len(ids))],
        ),
    ]
    rng.shuffle(reqs)
    return reqs


def call(api, req: Request) -> Dict[str, Any]:
    """Send one request to an engine or the oracle (same public API)."""
    if req.endpoint == "search":
        return api.search(dict(req.input))
    if req.endpoint == "aggregation":
        return api.aggregation(dict(req.input))
    return api.similar(req.anchor, dict(req.input))


def _norm_val(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v):
            return int(v)
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return [_norm_val(x) for x in v]
    return v


def _norm_item(it):
    return {k: _norm_val(v) for k, v in it.items() if v is not None}


def normalise(req: Request, res: Dict[str, Any]) -> Dict[str, Any]:
    """Comparable form of a response, as the engine-vs-oracle differential
    suite normalises it (floats to 9 places, None-valued keys dropped)."""
    data = res["data"]
    if req.endpoint == "aggregation":
        return {
            "pagination": res["pagination"],
            "buckets": [(b["key"], b["doc_count"], bool(b["selected"])) for b in data["buckets"]],
        }
    out = {
        "pagination": res["pagination"],
        "items": [_norm_item(i) for i in data["items"]],
    }
    if req.endpoint == "search":
        out["aggregations"] = {
            f: {
                "name": e["name"],
                "title": e["title"],
                "position": e["position"],
                "buckets": [(b["key"], b["doc_count"], bool(b["selected"])) for b in e["buckets"]],
            }
            for f, e in (data.get("aggregations") or {}).items()
        }
    return out
