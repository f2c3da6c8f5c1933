"""``dashboard``: the reference's REST surface, one closed-loop client.

Each pass issues a fixed, seeded set of requests covering every
``YelpWarehouseAPI`` method of the relational, document and graph families
(plus ``debug``/``health``), in a pass-specific seeded order. Business ids
are drawn with the generated data's skewed popularity; categories, pages,
sorts and search terms are seeded too. The API serves the parquet warehouse
that set-up ETL'd from the generated Yelp files, plus the raw frames
``build_warehouse`` returns (``write_warehouse`` skips ``raw_*``, so the
document endpoints need them).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from collections import Counter

import yelpgen
from measure import catalyst_ms
from workload import PassWorkload

SCALES = {"bench": 0.05, "toy": 0.01}
NOW = "2023-12-31"  # fixed anchor for the trailing-window endpoints
HEAD = 20  # the popularity head that per-entity requests draw from
REVIEW_SORTS = ("date_desc", "date_asc", "stars_desc", "stars_asc", "useful_desc")


def request_set(data: yelpgen.YelpData, seed: int) -> list[tuple[str, dict]]:
    """The fixed per-run set of ``(method, kwargs)`` requests.

    Its shape is the same for every seed (which method, how many times,
    which page), so a seed changes identities, not the amount of work.
    Per-business requests get distinct businesses from the popularity head:
    the most-reviewed businesses that also have checkins."""
    rng = random.Random(seed)
    popularity = Counter(r["business_id"] for r in data.review)
    known = {b["business_id"] for b in data.business}
    checked_in = {c["business_id"] for c in data.checkin}
    head = [b for b, _ in popularity.most_common() if b in known and b in checked_in][:HEAD]
    biz = iter(rng.sample(head, 7))
    cats = iter(rng.sample(yelpgen.CATEGORIES[:8], 3))
    user_pop = Counter(r["user_id"] for r in data.review)
    sort_by = ("stars", "review_count", "name")

    reqs = [
        ("overview_stats", {}),
        ("city_ratings", {"state": rng.choice(["AZ", "NV", "FL"])}),
        ("business_performance", {"business_id": next(biz)}),
        ("review_trends", {"now": NOW}),
        ("monthly_distribution", {}),
        ("year_comparison", {"now": NOW}),
        ("category_ratings", {}),
        ("category_volumes", {}),
        ("state_stats", {}),
        ("category_trends", {"category": next(cats)}),
        ("top_users", {}),
        ("document_size_stats", {}),
        ("business_attributes", {}),
        ("schema_analysis", {}),
        ("array_field_analysis", {}),
        ("document_structure", {"collection": rng.choice(["business", "user", "review"])}),
        ("graph_overview_stats", {}),
        ("graph_search_businesses", {"name": rng.choice(yelpgen.NAME_KINDS),
                                     "category": next(cats), "sort_by": rng.choice(sort_by)}),
        ("business_network", {"business_id": next(biz)}),
        ("business_recommendations", {"business_id": next(biz)}),
        ("user_recommendations", {"user_id": user_pop.most_common(HEAD)[rng.randrange(HEAD)][0]}),
        ("connection_path", {"business_id1": next(biz), "business_id2": next(biz)}),
        ("graph_analytics", {}),
        ("debug", {}),
        ("health", {}),
        ("top_businesses", {"category": next(cats), "limit": 10, "page": 1}),
        ("search_businesses", {"query": rng.choice(yelpgen.NAME_WORDS).lower(),
                               "location": rng.choice(yelpgen.CITIES)[0][:4],
                               "min_rating": 3.0, "sort_by": rng.choice(sort_by), "page": 1}),
    ]
    reqs.append(("business_checkins", {"business_id": next(biz)}))
    reviewed = next(biz)
    reqs += [("business_reviews", {"business_id": reviewed, "page": page, "limit": 10,
                                   "sort": rng.choice(REVIEW_SORTS)}) for page in (1, 2)]
    return reqs


class Dashboard(PassWorkload):
    MIN_PASSES = 2  # two samples of every request steady the median
    ALIASES = {"op_p50_ms": ("dashboard.p50_ms", "ms"), "op_tail_ms": ("dashboard.tail_ms", "ms"),
               "throughput_per_s": ("dashboard.rps", "req/s")}

    def generate(self) -> None:
        self.data = yelpgen.generate(self.seed, SCALES[self.scale])
        self.raw = os.path.join(self.work, "raw")
        yelpgen.write(self.data, self.raw)
        self.requests = {json.dumps([m, kw], sort_keys=True): (m, kw)
                         for m, kw in request_set(self.data, self.seed)}

    def setup(self, spark, cycle: int) -> dict[str, float]:
        from yelpdatawarehouse_spark.api import YelpWarehouseAPI
        from yelpdatawarehouse_spark.sources.etl import build_warehouse, write_warehouse

        t0 = time.perf_counter()
        tables = build_warehouse(spark, self.raw, {})
        t1 = time.perf_counter()
        self.wh_dir = os.path.join(self.work, f"wh{cycle}")
        write_warehouse(tables, self.wh_dir)
        t2 = time.perf_counter()
        self.api = YelpWarehouseAPI.from_warehouse_dir(spark, self.wh_dir)
        self.api.wh.update({k: v for k, v in tables.items() if k.startswith("raw_")})
        written = sum(self.api.debug().values())  # warm-up: scan every persisted table
        return {"sources.etl_build_ms": 1000 * (t1 - t0), "sources.etl_write_ms": 1000 * (t2 - t1),
                "sources.rows_per_s": written / (t2 - t0)}

    def op_keys(self) -> list[str]:
        return list(self.requests)

    def warm_keys(self) -> list[str]:
        """One request per API method warms every code path."""
        first = {}
        for key, (method, _) in self.requests.items():
            first.setdefault(method, key)
        return list(first.values())

    def run_op(self, key, tracer, counters):
        method, kwargs = self.requests[key]
        call = getattr(self.api, method)
        if tracer is None:
            return json.dumps(call(**kwargs), sort_keys=True, default=str)
        group = f"dash-{len(tracer.op_metrics)}-{method}"
        counters.set_group(group)
        with _LayerProbe(tracer, group) as probe:
            t0 = time.perf_counter()
            with tracer.span("api", group):
                out = json.dumps(call(**kwargs), sort_keys=True, default=str)
            total_ms = 1000 * (time.perf_counter() - t0)
        m = {"endpoints.build_ms": probe.build_ms, "api.rows_ms": probe.rows_ms,
             "api.present_ms": total_ms - probe.build_ms - probe.rows_ms,
             "collect.ms": probe.rows_ms, "collect.rows": probe.rows, **probe.catalyst}
        m.update(counters.job_metrics(counters.job_ids(group)))
        tracer.add(group, m)
        counters.clear_group()
        return out

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {"storage.files": _parquet_files(self.wh_dir)}

    def check(self) -> None:
        self.check_repeats()
        for key, (method, kwargs) in self.requests.items():
            outs = self.results.get(key)
            if not outs:
                continue
            want = expected(self.data, method, kwargs)
            if want is not None and project(method, json.loads(outs[0])) != want:
                self.fail(f"{key}: differs from the independent computation")


class _LayerProbe:
    """Wraps the ``queries.endpoints`` functions and ``api.rows`` for one
    request: time inside endpoint builders, time and rows in result
    materialization, and the Catalyst phases of each materialized frame."""

    def __init__(self, tracer, op: str):
        self.tracer, self.op = tracer, op
        self.build_ms = self.rows_ms = 0.0
        self.rows = 0
        self.catalyst: dict[str, float] = {}
        self._depth = 0

    def _endpoint(self, fn):
        def wrapped(*args, **kwargs):
            if self._depth:  # an endpoint calling another counts once
                return fn(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("endpoints", self.op):
                    return fn(*args, **kwargs)
            finally:
                self.build_ms += 1000 * (time.perf_counter() - t0)
                self._depth -= 1
        return wrapped

    def _materialize(self, fn):
        def wrapped(df, *args, **kwargs):
            t0 = time.perf_counter()
            with self.tracer.span("api.rows", self.op):
                out = fn(df, *args, **kwargs)
            self.rows_ms += 1000 * (time.perf_counter() - t0)
            self.rows += len(out)
            for k, v in catalyst_ms(df).items():
                self.catalyst[k] = self.catalyst.get(k, 0.0) + v
            return out
        return wrapped

    def __enter__(self):
        from yelpdatawarehouse_spark import api
        from yelpdatawarehouse_spark.queries import endpoints as E

        self._saved = [(api, "rows", api.rows)]
        api.rows = self._materialize(api.rows)
        for name in dir(E):
            fn = getattr(E, name)
            if name.startswith("_") or getattr(fn, "__module__", "") != E.__name__:
                continue
            self._saved.append((E, name, fn))
            # dense chart arrays collect their frame: count them as materialization
            setattr(E, name, self._materialize(fn) if name.startswith("present_")
                    else self._endpoint(fn))
        return self

    def __exit__(self, *exc):
        for module, name, fn in self._saved:
            setattr(module, name, fn)


def _parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)


# --- independent answers, computed from the generated records -------------

def _valid_reviews(data):
    known = {b["business_id"] for b in data.business}
    seen, out = set(), []
    for r in data.review:
        if r["business_id"] in known and r["review_id"] not in seen:
            seen.add(r["review_id"])
            out.append(r)
    return out


def _sort_key(sort: str):
    date = lambda r: r["date"][:10]  # noqa: E731
    return {
        "date_desc": lambda r: (_neg(date(r)), r["review_id"]),
        "date_asc": lambda r: (date(r), r["review_id"]),
        "stars_desc": lambda r: (-r["stars"], r["review_id"]),
        "stars_asc": lambda r: (r["stars"], r["review_id"]),
        "useful_desc": lambda r: (-r["useful"], r["review_id"]),
    }[sort]


def _neg(s: str) -> tuple:
    return tuple(-ord(c) for c in s)


def _page(items, page: int, limit: int) -> tuple[list, dict]:
    total = len(items)
    pages = (total + limit - 1) // limit if total else 1
    return items[(page - 1) * limit: page * limit], {"total": total, "pages": pages}


def expected(data, method: str, kw: dict):
    """The checked subset: the answer the API must give, or None."""
    if method == "overview_stats":
        return {"business_count": len({b["business_id"] for b in data.business}),
                "review_count": len(_valid_reviews(data)),
                "user_count": len({u["user_id"] for u in data.user})}
    if method == "business_reviews":
        rs = sorted((r for r in _valid_reviews(data) if r["business_id"] == kw["business_id"]),
                    key=_sort_key(kw["sort"]))
        page, env = _page([r["review_id"] for r in rs], kw["page"], kw["limit"])
        return {"ids": page, **env}
    if method == "top_businesses":
        seen, rows = set(), []
        for b in data.business:
            cats = {c.strip() for c in (b["categories"] or "").split(",")}
            if b["business_id"] not in seen and kw["category"] in cats:
                seen.add(b["business_id"])
                rows.append(b)
        rows.sort(key=lambda b: (-b["stars"], -b["review_count"], b["business_id"]))
        page, env = _page([b["business_id"] for b in rows], kw["page"], kw["limit"])
        return {"ids": page, **env}
    if method == "business_checkins":
        day, month, hour = [0] * 7, [0] * 12, [0] * 24
        for c in data.checkin:
            if c["business_id"] != kw["business_id"]:
                continue
            raw = c["date"] if isinstance(c["date"], str) else ", ".join(c["date"].values())
            for s in raw.split(","):
                t = dt.datetime.strptime(s.strip(), "%Y-%m-%d %H:%M:%S")
                day[t.isoweekday() % 7] += 1  # Spark dayofweek: 1 = Sunday
                month[t.month - 1] += 1
                hour[t.hour] += 1
        return {"day_distribution": day, "month_distribution": month, "hour_distribution": hour}
    return None


def project(method: str, out: dict):
    """The part of an API answer ``expected`` describes."""
    if method == "overview_stats":
        return {k: out[k] for k in ("business_count", "review_count", "user_count")}
    if method in ("business_reviews", "top_businesses"):
        rows = out["reviews" if method == "business_reviews" else "businesses"]
        key = "review_id" if method == "business_reviews" else "business_id"
        return {"ids": [r[key] for r in rows], "total": out["pagination"]["total"],
                "pages": out["pagination"]["pages"]}
    return out
