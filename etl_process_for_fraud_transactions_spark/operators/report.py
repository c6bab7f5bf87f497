"""Final fraud-report assembly (reference main.py:531-560).

Left-joins the fact to the dimension chain, the passport blacklist and
the rule-4/rule-5 outputs, applies the prioritized CASE, filters to
rows firing at least one rule, and stamps report_dt.
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
    rule_brute_force_20min,
    rule_brute_force_20min_window,
    rule_diff_city_1h,
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
    cache_resolved: bool = False,
    broadcast_rule_hits: bool | None = True,
    broadcast_max_rows: int = 4_000_000,
    diff_city_impl: str = "window",
    brute_impl: str = "window",
    hot_key_max_rows: int | None = HOT_KEY_MAX_ROWS,
) -> DataFrame:
    """The full five-rule report (main.py:414-560) as one DataFrame.

    `broadcast_rule_hits` — the hit sets are a FRACTION of the fact
    (they grow with it), so the join-back hint has three modes:

    - True (default): always hint. One plan, zero extra jobs, the
      whole report optimizes as a single tree (rule subtrees share
      the dim-chain exchanges with the final assembly — measured
      ~2x faster single-shot than the gated mode, which must
      materialize the rules behind persist barriers). Failure mode:
      a pathological day whose hit sets exceed the broadcast limit /
      driver memory fails outright rather than degrading.
    - None: MEASURED hint (the cap_per_domain precedent) — persist +
      count each rule's hit set at plan-construction time and
      broadcast only when provably <= broadcast_max_rows. Costs the
      single-plan subtree sharing and two eager jobs per report.
    - False: never hint; AQE decides from runtime stats after the
      fact-side shuffle materializes. Keeps the single plan AND the
      no-abort guarantee (a large hit set degrades to a shuffle join);
      what jobs/daily.py and the registered fraud_report row use.

    The reference builds the same dim chain twice (CTEs at 415-427 and
    437-443 — a missed reuse its own planner can't fix); here the
    terminal-resolved chain is built once, cached, and feeds both
    self-join rules and the final assembly.

    `report_trans` (incremental mode): the final assembly scans this
    frame (e.g. just the batch-date partition) while the self-join
    rules keep the full `trans` for window context — the reference's
    full-fact daily rescan is O(total history) per day and not viable
    at scale.

    `diff_city_impl` / `brute_impl` (round 10, both default 'window'):
    the self-join rules re-expressed as range-frame windows — rule 4
    becomes one card_num shuffle (min/max city over a +/-1h frame,
    no candidate pairs at all), rule 5's candidate stage becomes a
    forward frame (pairs survive only as the sparse candidate member
    fetch). Same verdicts (property-pinned + fixture-parity-pinned +
    driver-hashed), measured ~25% faster end-to-end at sf0.1, and
    O(k log k) instead of O(k^2) on a hot card/client — the
    celebrity-key failure mode at 100 TB. 'pairs' keeps the
    reference-shaped bucketed θ-self-joins (still the operators the
    diff_city_short_time / brute_force_hits demos exercise).
    """
    # The 3-hop chain feeds rule 4, rule 5 and (separately) the final
    # left assembly. Caching it is a trade-off: at test scale the
    # broadcast joins recompute faster than the cache materializes
    # (measured 0.9s vs 1.2-1.8s at sf0.1), so default off; when the
    # fact scan itself is the dominant cost (very large inputs, remote
    # storage), pass cache_resolved=True to scan it once.
    resolved = resolve_transactions(
        trans, cards, accounts, clients, terminals=None, how="inner"
    )
    if cache_resolved:
        resolved = resolved.persist()

    # Rule 4 needs the terminal city (city_of_transactions CTE,
    # main.py:415-427); rule 5 deliberately does not join terminals
    # (req_start_for_4_rule, main.py:437-443) — an inner terminal join
    # there would drop transactions at unknown terminals from the
    # brute-force scan, changing its semantics.
    # Rule outputs are fraud *hits* — typically orders of magnitude
    # smaller than the fact — so the join-backs broadcast them instead
    # of shuffling the full fact on (trans_id, client_id). Mode
    # trade-offs in the docstring; in the measured mode (None) the
    # persisted frames stay referenced by the final join-backs (no
    # recompute; LRU-evictable) and the count is an eager action at
    # plan-construction time (the cap_per_domain contract).
    # diff_city_impl: 'window' (default, round 10) computes rule 4 as
    # a range-frame window — one card_num shuffle, no candidate-pair
    # materialization (per-card frame work is still O(k*w) — Spark
    # re-aggregates sliding min/max frames — but nothing is joined or
    # re-shuffled, and a measured density gate routes celebrity cards
    # to the salted pair join, rules.HOT_KEY_MAX_ROWS); 'pairs' keeps
    # the bucketed θ-self-join
    # (the reference-shaped form the diff_city_short_time demo pins).
    # Equivalence is property-pinned; both hash-match the oracle.
    if diff_city_impl not in ("window", "pairs"):
        raise ValueError(
            f"diff_city_impl must be window|pairs, got {diff_city_impl!r}"
        )
    from functools import partial

    # tripped celebrity-key probes persist their hot-key frames; the
    # registry joins _rule_hit_frames below so jobs/daily.py's
    # per-batch release covers them too (no cache accumulation across
    # a multi-date loop)
    _gate_persists: list = []
    diff_city_rule = (
        partial(
            rule_diff_city_1h_window,
            hot_key_max_rows=hot_key_max_rows,
            persist_registry=_gate_persists,
        )
        if diff_city_impl == "window"
        else rule_diff_city_1h  # the pair form has no window partition to gate
    )
    # brute_impl mirrors diff_city_impl: 'window' computes the rule-5
    # CANDIDATE stage as a forward range frame (pairs only for the
    # sparse candidate member fetch); 'pairs' keeps the full interval
    # self-join (the brute_force_hits demo's operator).
    if brute_impl not in ("window", "pairs"):
        raise ValueError(
            f"brute_impl must be window|pairs, got {brute_impl!r}"
        )
    brute_rule = (
        partial(
            rule_brute_force_20min_window,
            hot_key_max_rows=hot_key_max_rows,
            persist_registry=_gate_persists,
        )
        if brute_impl == "window"
        else rule_brute_force_20min
    )
    diff_city_raw = diff_city_rule(attach_terminal_city(resolved, terminals))
    brute_raw = brute_rule(resolved)
    if broadcast_rule_hits is None:
        diff_city_raw = diff_city_raw.persist()
        brute_raw = brute_raw.persist()
        hint_dc = diff_city_raw.count() <= broadcast_max_rows
        hint_bf = brute_raw.count() <= broadcast_max_rows
    else:
        hint_dc = hint_bf = broadcast_rule_hits
    diff_city = (
        F.broadcast(diff_city_raw) if hint_dc else diff_city_raw
    ).alias("h")
    brute = (F.broadcast(brute_raw) if hint_bf else brute_raw).alias("r")

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
    # measured mode persists the two hit frames; expose them so a
    # long-running caller (jobs/daily.py, one report per batch date)
    # can unpersist after materializing instead of relying on LRU —
    # empty tuple in the hinted/unhinted modes, so callers can always
    # iterate it unconditionally
    result._rule_hit_frames = (
        (diff_city_raw, brute_raw) if broadcast_rule_hits is None else ()
    ) + tuple(_gate_persists)
    return result
