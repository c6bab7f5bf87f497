"""Final fraud-report assembly (reference main.py:531-560).

Left-joins the fact to the dimension chain, the passport blacklist and
the rule-4/rule-5 outputs, applies the prioritized CASE, filters to
rows firing at least one rule, and stamps report_dt — one AQE-planned
tree, the way the reference's report is one INSERT…SELECT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import null_safe_concat_ws
from .rules import (
    EV_BLOCKED_PASSPORT,
    HOT_KEY_MAX_ROWS,
    EV_BRUTE_FORCE,
    EV_DIFF_CITY,
    EV_EXPIRED_PASSPORT,
    EV_INVALID_CONTRACT,
    attach_terminal_city,
    resolve_transactions,
    rule_brute_force_20min_window,
    rule_diff_city_1h_window,
)


def assemble_report(
    trans: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
    blacklist: DataFrame,
    report_dt: Column,
    report_trans: DataFrame | None = None,
    hot_key_max_rows: int | None = HOT_KEY_MAX_ROWS,
) -> DataFrame:
    """The full five-rule report (main.py:414-560) as one DataFrame.

    The rule-hit join-backs carry no broadcast hint. The hit sets are
    a FRACTION of the fact (they grow with it), so a forced hint fails
    outright on a pathological day whose hit sets exceed the broadcast
    limit / driver memory; unhinted, AQE picks the strategy from
    runtime stats after the fact-side shuffle materializes (broadcast
    at test scale, a shuffle join on a hot-fraud day), and the report
    stays a single tree with no persist barriers.

    The reference builds the same dim chain twice (CTEs at 415-427 and
    437-443 — a missed reuse its own planner can't fix); here the
    terminal-resolved chain is built once and feeds both self-join
    rules.

    `report_trans` (incremental mode): the final assembly scans this
    frame (e.g. just the batch-date partition) while the self-join
    rules keep the full `trans` for window context — the reference's
    full-fact daily rescan is O(total history) per day and not viable
    at scale.

    Rules 4 and 5 run in their range-frame window forms (round 10;
    cost model and celebrity-key gate in operators/rules.py). The
    reference-shaped pair forms `rule_diff_city_1h` /
    `rule_brute_force_20min` give the same verdicts (property-pinned)
    and stay the diff_city_short_time / brute_force_hits rows'
    operators.

    `hot_key_max_rows` is the windowed rules' measured celebrity-key
    gate (rules.HOT_KEY_MAX_ROWS; None skips the probe). A tripped
    probe persists its hot-key frame; the frames are exposed as
    `result._gate_persists` so a long-running caller (jobs/daily.py,
    one report per batch date) can unpersist them after materializing
    instead of relying on LRU — an empty tuple when no probe trips, so
    callers can always iterate it.
    """
    # The 3-hop chain feeds rule 4, rule 5 and (separately) the final
    # left assembly. It is not cached: at test scale the broadcast
    # joins recompute faster than the cache materializes (measured
    # 0.9s vs 1.2-1.8s at sf0.1).
    resolved = resolve_transactions(
        trans, cards, accounts, clients, terminals=None, how="inner"
    )

    # Rule 4 needs the terminal city (city_of_transactions CTE,
    # main.py:415-427); rule 5 deliberately does not join terminals
    # (req_start_for_4_rule, main.py:437-443) — an inner terminal join
    # there would drop transactions at unknown terminals from the
    # brute-force scan, changing its semantics.
    gate_persists: list = []
    diff_city = rule_diff_city_1h_window(
        attach_terminal_city(resolved, terminals),
        hot_key_max_rows=hot_key_max_rows,
        persist_registry=gate_persists,
    ).alias("h")
    brute = rule_brute_force_20min_window(
        resolved,
        hot_key_max_rows=hot_key_max_rows,
        persist_registry=gate_persists,
    ).alias("r")

    # Final assembly uses LEFT joins (main.py:544-550): a transaction
    # that misses the dim chain still reaches the rule-1 probe.
    left = resolve_transactions(
        report_trans if report_trans is not None else trans,
        cards,
        accounts,
        clients,
        terminals=None,
        how="left",
    ).alias("t")
    b = F.broadcast(blacklist.select("passport_num").distinct().alias("b"))

    out = (
        left.join(b, F.col("t.passport_num") == F.col("b.passport_num"), "left")
        .join(
            diff_city,
            (F.col("h.client_id") == F.col("t.client_id"))
            & (F.col("t.trans_id") == F.col("h.trans_id")),
            "left",
        )
        .join(
            brute,
            (F.col("r.client_id") == F.col("t.client_id"))
            & (F.col("t.trans_id") == F.col("r.trans_id")),
            "left",
        )
    )

    blocked = F.col("b.passport_num").isNotNull()
    expired = F.col("t.passport_valid_to") < F.col("t.trans_date")
    invalid = F.col("t.account_valid_to") < F.col("t.trans_date")
    diff_city_hit = F.col("h.client_id").isNotNull()
    brute_hit = F.col("r.client_id").isNotNull()

    event_type = (
        F.when(blocked, F.lit(EV_BLOCKED_PASSPORT))
        .when(expired, F.lit(EV_EXPIRED_PASSPORT))
        .when(invalid, F.lit(EV_INVALID_CONTRACT))
        .when(diff_city_hit, F.lit(EV_DIFF_CITY))
        .when(brute_hit, F.lit(EV_BRUTE_FORCE))
    )  # no otherwise -> NULL, matching the CASE with no ELSE (main.py:542)

    result = (
        out.filter(blocked | expired | invalid | diff_city_hit | brute_hit)
        .select(
            F.col("t.trans_date").alias("event_dt"),
            F.col("t.passport_num").alias("passport"),
            null_safe_concat_ws(
                " ", F.col("t.first_name"), F.col("t.patrinymic"), F.col("t.last_name")
            ).alias("fio"),
            F.col("t.phone").alias("phone"),
            event_type.alias("event_type"),
            report_dt.alias("report_dt"),
        )
    )
    result._gate_persists = tuple(gate_persists)
    return result
