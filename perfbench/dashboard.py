"""The dashboard request mix (SURVEY §2.4 Q1–Q11 shapes, a PPL stats
pipeline and a SQL group-by), each with its engine call, a normaliser
for the collected result and a pure-Python oracle over the same rows.

Every request class is issued through the engine's public query surface
(``search`` / ``query_string`` / ``count`` / ``ppl`` / ``sql``) and
answered by the always-current mirror.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import gen

AT = "authorize_transaction"
CARD = "card"
_HITS = 10_000  # above every hit count the mix produces; hits are compared in full


def _cents(d) -> int:
    return int(d * 100)


def _hour(h: int) -> str:
    return (gen.BASE_TIME + dt.timedelta(hours=h)).strftime("%Y-%m-%d %H:%M:%S")


def _hit_ids(rows) -> list:
    return sorted((r["id"], r["version"]) for r in rows)


def _oracle_ids(at, keep) -> list:
    return sorted((r[0], r[1]) for r in at if keep(r))


_I = {c: i for i, c in enumerate(gen.AT_COLUMNS)}
_C = {c: i for i, c in enumerate(gen.CARD_COLUMNS)}


@dataclass(frozen=True)
class RequestClass:
    name: str
    params: Callable[[random.Random, int], object]
    call: Callable  # (engine, params) -> DataFrame | int
    normalise: Callable  # collected rows | int -> comparable
    oracle: Callable  # (at rows, card rows, params) -> comparable


def _terms_top(at, params):
    counts = Counter(r[_I["office_id"]] for r in at)
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:params]


def _date_hist(at, _):
    out: dict = {}
    for r in at:
        n, s = out.get(r[_I["created_at"]][:10], (0, 0))
        out[r[_I["created_at"]][:10]] = (n + 1, s + r[_I["amount"]])
    return sorted(out.items())


def _filtered(at, _):
    act = [r for r in at if r[_I["is_active"]]]
    ina = [r for r in at if not r[_I["is_active"]]]
    return {
        "active": (len(act), sum(r[_I["pending_amount"]] for r in act)),
        "inactive": (len(ina), sum(r[_I["pending_amount"]] for r in ina)),
    }


def _top_n(at, n):
    ranked = sorted(at, key=lambda r: r[_I["created_at"]], reverse=True)[:n]
    return [(r[0], r[_I["amount"]], r[_I["reference"]]) for r in ranked]


def _ppl_stats(at, k):
    out: dict = {}
    for r in at:
        if r[_I["office_id"]] <= k:
            n, s = out.get(r[_I["transaction_type"]], (0, 0))
            out[r[_I["transaction_type"]]] = (n + 1, s + r[_I["amount"]])
    return out


def _card_group(card, _):
    return dict(Counter((r[_C["status"]], r[_C["card_network"]]) for r in card))


REQUESTS = (
    RequestClass(
        "q01_term",
        lambda rng, _: rng.randint(1, gen.ACCOUNTS),
        lambda e, p: e.search(AT, {"query": {"term": {"savings_account_id": p}},
                                   "size": _HITS}),
        _hit_ids,
        lambda at, card, p: _oracle_ids(at, lambda r: r[_I["savings_account_id"]] == p),
    ),
    RequestClass(
        "q03_range",
        lambda rng, _: rng.randint(19_700, 19_950),
        lambda e, p: e.search(AT, {"query": {"range": {"amount": {"gte": p / 100}}},
                                   "size": _HITS}),
        _hit_ids,
        lambda at, card, p: _oracle_ids(at, lambda r: r[_I["amount"]] >= p),
    ),
    RequestClass(
        "q04_bool_qs",
        lambda rng, _: rng.randint(1, gen.OFFICES),
        lambda e, p: e.query_string(
            AT, f"is_active:true AND transaction_type:ATM_WITHDRAWAL AND office_id:{p}"),
        _hit_ids,
        lambda at, card, p: _oracle_ids(at, lambda r: r[_I["is_active"]]
                                        and r[_I["transaction_type"]] == "ATM_WITHDRAWAL"
                                        and r[_I["office_id"]] == p),
    ),
    RequestClass(
        "q05_terms_agg",
        lambda rng, _: rng.choice((5, 10)),
        lambda e, p: e.search(AT, {"size": 0, "aggs": {"by_office": {
            "terms": {"field": "office_id", "size": p}}}}),
        lambda rows: [(r["by_office"], r["doc_count"]) for r in rows],
        lambda at, card, p: _terms_top(at, p),
    ),
    RequestClass(
        "q06_date_hist",
        lambda rng, _: None,
        lambda e, p: e.search(AT, {"size": 0, "aggs": {"per_day": {
            "date_histogram": {"field": "created_at", "calendar_interval": "day"},
            "aggs": {"total": {"sum": {"field": "amount"}}}}}}),
        lambda rows: sorted((r["per_day"].strftime("%Y-%m-%d"),
                             (r["doc_count"], _cents(r["total"]))) for r in rows),
        lambda at, card, p: _date_hist(at, p),
    ),
    RequestClass(
        "q07_filtered_counts",
        lambda rng, _: None,
        lambda e, p: e.search(AT, {"size": 0, "aggs": {"state": {
            "filters": {"filters": {"active": {"term": {"is_active": True}},
                                    "inactive": {"term": {"is_active": False}}}},
            "aggs": {"pending": {"sum": {"field": "pending_amount"}}}}}}),
        lambda rows: {r["state"]: (r["doc_count"], _cents(r["pending"] or 0))
                      for r in rows},
        lambda at, card, p: _filtered(at, p),
    ),
    RequestClass(
        "q08_top_n",
        lambda rng, _: rng.choice((10, 20)),
        lambda e, p: e.search(AT, {"size": p, "sort": [{"created_at": {"order": "desc"}}],
                                   "_source": ["id", "amount", "reference"]}),
        lambda rows: [(r["id"], _cents(r["amount"]), r["reference"]) for r in rows],
        lambda at, card, p: _top_n(at, p),
    ),
    RequestClass(
        "q10_count",
        lambda rng, _: None,
        lambda e, p: e.count(AT),
        lambda n: n,
        lambda at, card, p: len(at),
    ),
    RequestClass(
        "q11_time_range",
        lambda rng, max_id: rng.randrange(max_id * gen.CREATED_STEP_S // 3600),
        lambda e, p: e.search(AT, {"query": {"range": {"created_at": {
            "gte": _hour(p), "lt": _hour(p + 1)}}}, "size": _HITS}),
        _hit_ids,
        lambda at, card, p: _oracle_ids(
            at, lambda r: _hour(p) <= r[_I["created_at"]] < _hour(p + 1)),
    ),
    RequestClass(
        "ppl_stats",
        lambda rng, _: rng.randint(5, 15),
        lambda e, p: e.ppl(f"source={AT} | where office_id <= {p} "
                           "| stats count() as n, sum(amount) as total by transaction_type"),
        lambda rows: {r["transaction_type"]: (r["n"], _cents(r["total"])) for r in rows},
        lambda at, card, p: _ppl_stats(at, p),
    ),
    RequestClass(
        "sql_group",
        lambda rng, _: None,
        lambda e, p: e.sql(f"SELECT status, card_network, count(*) AS n FROM {CARD} "
                           "GROUP BY status, card_network"),
        lambda rows: {(r["status"], r["card_network"]): r["n"] for r in rows},
        lambda at, card, p: _card_group(card, p),
    ),
)

NAMES = frozenset(rc.name for rc in REQUESTS)


def schedule(seed: int, n: int, max_id: int) -> list[tuple[RequestClass, object]]:
    """The request sequence: every class in turn, in a fixed order, with
    seeded parameters (a seed changes what is asked, not the mix)."""
    rng = random.Random(seed * 7919 + 1)
    return [(rc, rc.params(rng, max_id))
            for rc in (REQUESTS[k % len(REQUESTS)] for k in range(n))]
