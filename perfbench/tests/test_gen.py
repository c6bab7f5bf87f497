"""The dated-batch generator: planted counts per rule, and a pure-Python
evaluation of the five rules over the written files showing that each
planted event fires exactly its own rule and background traffic fires
none."""

import datetime as dt
import filecmp
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq

import gen
from gen import (
    EV_BLOCKED,
    EV_BRUTE,
    EV_DIFF_CITY,
    EV_EXPIRED,
    EV_INVALID,
    PLANT_HITS,
    PLANT_TX,
    RULES,
    DailyGenerator,
    DailySpec,
)

SPEC = DailySpec(background_clients=300, terminals=60, tx_per_day=3000, churn=0.05, days=3)


def _write(tmp, seed=7, days=3):
    g = DailyGenerator(SPEC, seed, str(tmp / "in"), str(tmp / "src"))
    return g, [g.write_day() for _ in range(days)]


def _read_day(g, batch, state):
    """Parse one day's files; returns (transactions, rule verdicts per
    transaction id). `state` carries the blacklist across days."""
    src = g.source_dir
    clients = {r["client_id"]: r for r in pq.read_table(os.path.join(src, "clients.parquet")).to_pylist()}
    accounts = {r["account"]: r for r in pq.read_table(os.path.join(src, "accounts.parquet")).to_pylist()}
    cards = {r["card_num"]: r["account"] for r in pq.read_table(os.path.join(src, "cards.parquet")).to_pylist()}
    with open(os.path.join(g.input_dir, f"terminals_{batch.date}.csv")) as f:
        next(f)
        city = {line.split(",")[0]: line.split(",")[2] for line in f}
    with open(os.path.join(g.input_dir, f"passport_blacklist_{batch.date}.csv")) as f:
        next(f)
        state["blacklist"].update(line.split(",")[0] for line in f)
    txs = []
    with open(os.path.join(g.input_dir, f"transactions_{batch.date}.txt")) as f:
        assert next(f).strip() == gen.TX_HEADER
        for line in f:
            tid, ts, card, _, amount, result, term = line.strip().split(";")
            acc = accounts[cards[card]]
            cl = clients[acc["client"]]
            txs.append({
                "id": tid,
                "ts": dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"),
                "card": card,
                "amt": float(amount.replace(",", ".")),
                "result": result,
                "city": city[term],
                "client": cl,
                "account": acc,
            })
    state["history"].extend(txs)
    return txs


def _verdicts(state) -> dict:
    """transaction id -> set of rules it fires, over the full history
    (the report's full rescan)."""
    out = defaultdict(set)
    hist = state["history"]
    by_card, by_client = defaultdict(list), defaultdict(list)
    for t in hist:
        by_card[t["card"]].append(t)
        by_client[t["client"]["client_id"]].append(t)
        if t["client"]["passport_num"] in state["blacklist"]:
            out[t["id"]].add(EV_BLOCKED)
        if t["client"]["passport_valid_to"] < t["ts"].date():
            out[t["id"]].add(EV_EXPIRED)
        if t["account"]["valid_to"] < t["ts"].date():
            out[t["id"]].add(EV_INVALID)
    hour = dt.timedelta(hours=1)
    for rows in by_card.values():
        for a in rows:
            if any(abs(b["ts"] - a["ts"]) <= hour and b["city"] != a["city"] for b in rows):
                out[a["id"]].add(EV_DIFF_CITY)
    window = dt.timedelta(minutes=20)
    for rows in by_client.values():
        rows = sorted(rows, key=lambda r: (r["ts"], r["id"]))
        for i, start in enumerate(rows):
            inside = [r for r in rows[i:] if r["ts"] - start["ts"] <= window]
            results = {r["result"] for r in inside}
            if len(inside) <= 3 or results != {"SUCCESS", "REJECT"}:
                continue
            first4 = inside[:4]
            amounts = [r["amt"] for r in first4]
            if amounts == sorted(amounts, reverse=True) and len(set(amounts)) == 4 and [
                r["result"] for r in first4
            ] == ["REJECT", "REJECT", "REJECT", "SUCCESS"]:
                out[start["id"]].add(EV_BRUTE)
    return out


def test_planted_counts_per_rule(tmp_path):
    g, batches = _write(tmp_path)
    p = SPEC.plants_per_rule
    assert p == 3
    for b in batches:
        per_rule = Counter(row[4] for row in b.expected)
        assert per_rule == {rule: p * PLANT_HITS[rule] for rule in RULES}
        assert b.tx_rows == SPEC.tx_per_day
    assert sum(PLANT_TX.values()) * p < SPEC.tx_per_day * 0.02


def test_planted_events_fire_disjoint_rules_and_background_none(tmp_path):
    g, _ = _write(tmp_path, days=0)
    state = {"blacklist": set(), "history": []}
    expected_hits = Counter()
    for _ in range(SPEC.days):
        batch = g.write_day()
        _read_day(g, batch, state)
        verdicts = _verdicts(state)
        expected_hits.update(batch.expected)
        fired = Counter()
        for t in state["history"]:
            rules = verdicts.get(t["id"], set())
            assert len(rules) <= 1, (t["id"], rules)
            for rule in rules:
                c = t["client"]
                fio = f"{c['first_name']} {c['patronymic']} {c['last_name']}"
                fired[(t["ts"], c["passport_num"], fio, c["phone"], rule)] += 1
        # every fired row is a planted one and every plant fires: the
        # background fires nothing, each plant exactly its own rule
        assert fired == expected_hits


def test_same_seed_same_files(tmp_path):
    _write(tmp_path / "a", seed=11, days=2)
    _write(tmp_path / "b", seed=11, days=2)
    for sub in ("in", "src"):
        names = sorted(os.listdir(tmp_path / "a" / sub))
        assert names == sorted(os.listdir(tmp_path / "b" / sub))
        match, mismatch, errors = filecmp.cmpfiles(
            tmp_path / "a" / sub, tmp_path / "b" / sub, names, shallow=False
        )
        assert not mismatch and not errors
    _write(tmp_path / "c", seed=12, days=1)
    assert not filecmp.cmp(
        tmp_path / "a" / "in" / "transactions_01032024.txt",
        tmp_path / "c" / "in" / "transactions_01032024.txt",
        shallow=False,
    )


def test_churn_changes_the_counted_keys(tmp_path):
    g, batches = _write(tmp_path)
    assert batches[0].churned == {d: 0 for d in gen.DIMS}
    for b in batches[1:]:
        assert b.churned == {"clients": 15, "accounts": 30, "cards": 15, "terminals": 3}
    assert g.key_counts()["accounts"] == 2 * g.key_counts()["clients"]


def test_index_epochs_plant_exact_duplicates():
    g = gen.IndexGenerator(gen.IndexSpec(corpus=50, epoch_fresh=10, epoch_dups=3, deletes=2, queries=2), 5)
    corpus = g.corpus()
    fresh, dups = g.epoch(set(corpus))
    assert len(fresh) == 10 and len(dups) == 3
    assert not set(dups) & set(corpus) and not set(dups) & set(fresh)
    for new_id, orig in dups.items():
        assert g.items[new_id] == g.items[orig]
    texts = [g.items[i][0] for i in corpus + fresh]
    assert len(set(texts)) == len(texts)
