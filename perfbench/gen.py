"""Seeded input generators for the benchmark.

Daily flow: a source-DB snapshot per day (clients, accounts, cards as
parquet) plus the dated batch files the job discovers
(`transactions_DDMMYYYY.txt` with `;` separators and `,` decimals,
`terminals_DDMMYYYY.csv`, `passport_blacklist_DDMMYYYY.csv`).

Background traffic fires no fraud rule by construction:
- every card has one home city and only uses terminals in that city,
  and terminal churn never moves a terminal to another city (rule 4);
- every client owns exactly one card, and transactions on a card are
  at least 25 minutes apart, so a 20-minute window never holds more
  than one attempt of a client (rule 5);
- passports and contracts are valid far into the future and never
  blacklisted (rules 1-3). Churn only touches attributes no rule
  reads: the phone, a far-future contract end, which of the client's
  two accounts the card draws on, and the terminal address.

Planted events use dedicated clients that transact on their plant day
only, and each plant fires exactly one rule. Every plant's expected
report rows are kept with its day, so the checker can apply the
reference's full-rescan semantics (each report re-flags all history).

Index lifecycle: documents (doc_id, text) and embeddings
(vec_id, embedding) drawn from a seeded vocabulary and seeded
clusters; each epoch brings fresh ids plus exact copies of live
documents under new ids (the planted duplicates).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

START = dt.date(2024, 3, 1)
FAR = dt.date(2040, 1, 1)
PAST = dt.date(2020, 1, 1)
SLOT_MIN = 26  # slot width; sub-minute jitter keeps same-card gaps >= 25 min
N_SLOTS = 24 * 60 // SLOT_MIN
CITIES = [f"City{i:02d}" for i in range(20)]

EV_BLOCKED = "BLOCKED_PASSPORT"
EV_EXPIRED = "EXPIRED_PASSPORT"
EV_INVALID = "INVALID_CONTRACT"
EV_DIFF_CITY = "DIFF_CITY_SHORT_TIME"
EV_BRUTE = "BRUTE_FORCE_ATTEMPT"
RULES = (EV_BLOCKED, EV_EXPIRED, EV_INVALID, EV_DIFF_CITY, EV_BRUTE)
#: transactions one plant of each rule writes
PLANT_TX = {EV_BLOCKED: 1, EV_EXPIRED: 1, EV_INVALID: 1, EV_DIFF_CITY: 2, EV_BRUTE: 4}
#: report rows one plant of each rule yields
PLANT_HITS = {EV_BLOCKED: 1, EV_EXPIRED: 1, EV_INVALID: 1, EV_DIFF_CITY: 2, EV_BRUTE: 1}
DIMS = ("clients", "accounts", "cards", "terminals")

TX_HEADER = "transaction_id;transaction_date;card_num;oper_type;amount;oper_result;terminal"


def ddmmyyyy(d: dt.date) -> str:
    return d.strftime("%d%m%Y")


def _ts(day: dt.date, seconds: int) -> dt.datetime:
    return dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=seconds)


def _amount(cents: int) -> str:
    return f"{cents // 100},{cents % 100:02d}"


@dataclass
class DailySpec:
    background_clients: int
    terminals: int
    tx_per_day: int
    churn: float
    days: int = 2  # days the generator can write; plant clients exist for each
    fraud_share: float = 0.01

    @property
    def plants_per_rule(self) -> int:
        per_set = sum(PLANT_TX.values())
        return max(2, round(self.tx_per_day * self.fraud_share / per_set))


@dataclass
class DayBatch:
    """What one generated day holds, as the checker needs it."""

    date: str
    day: dt.date
    expected: list = field(default_factory=list)  # report rows of this day's plants
    tx_rows: int = 0
    churned: dict = field(default_factory=dict)  # dim -> keys changed today


class DailyGenerator:
    """`write_day(i)` writes day i's source-DB snapshot and batch
    files. Days are written in order: the source DB carries the churn
    of every earlier day."""

    def __init__(self, spec: DailySpec, seed: int, input_dir: str, source_dir: str):
        self.spec = spec
        self.seed = seed
        self.input_dir = input_dir
        self.source_dir = source_dir
        os.makedirs(input_dir, exist_ok=True)
        os.makedirs(source_dir, exist_ok=True)
        rng = random.Random(seed)
        # terminal_id -> [type, city, address]
        self.terminals: dict[str, list] = {}
        self.by_city: dict[str, list[str]] = {c: [] for c in CITIES}
        for i in range(max(spec.terminals, 2 * len(CITIES))):
            tid = f"T{i:06d}"
            city = CITIES[i % len(CITIES)]
            self.terminals[tid] = [rng.choice(("ATM", "POS", "ETC")), city, f"addr-{i}"]
            self.by_city[city].append(tid)
        # client_id -> attribute dict; accounts: account -> [valid_to, client]
        self.clients: dict[str, dict] = {}
        self.accounts: dict[str, list] = {}
        self.cards: dict[str, str] = {}
        self.background = [self._client(rng, i, FAR, FAR) for i in range(spec.background_clients)]
        self.plant_clients: dict[tuple[int, str], list[str]] = {}
        n = spec.background_clients
        for day in range(spec.days):
            for rule in RULES:
                ids = []
                for _ in range(spec.plants_per_rule):
                    ids.append(
                        self._client(
                            rng,
                            n,
                            PAST if rule == EV_EXPIRED else FAR,
                            PAST if rule == EV_INVALID else FAR,
                        )
                    )
                    n += 1
                self.plant_clients[(day, rule)] = ids
        self.blacklisted: list[tuple[str, str]] = []
        self.next_day = 0

    def _client(self, rng, n: int, passport_to: dt.date, contract_to: dt.date) -> str:
        cid = f"C{n:07d}"
        self.clients[cid] = {
            "client_id": cid,
            "last_name": f"Last{rng.randrange(10**6)}",
            "first_name": f"First{rng.randrange(1000)}",
            "patronymic": f"Patr{rng.randrange(1000)}",
            "date_of_birth": dt.date(1950, 1, 1) + dt.timedelta(days=rng.randrange(18000)),
            "passport_num": f"P{n:09d}",
            "passport_valid_to": passport_to,
            "phone": f"+7{rng.randrange(10**9):09d}",
            "city": rng.choice(CITIES),
            "card": f"K{n:07d}",
        }
        self.accounts[f"A{n:07d}0"] = [contract_to, cid]
        self.accounts[f"A{n:07d}1"] = [FAR, cid]
        self.cards[f"K{n:07d}"] = f"A{n:07d}0"
        return cid

    # -- churn --------------------------------------------------------------

    def _churn(self, rng, day_idx: int) -> dict:
        """Change background keys in place; returns the number of keys
        changed per dimension. Day 0 is the bootstrap."""
        if day_idx == 0:
            return {d: 0 for d in DIMS}
        frac = self.spec.churn
        bg = self.background

        def pick(pool):
            return rng.sample(pool, max(1, round(len(pool) * frac)))

        changed_clients = pick(bg)
        for cid in changed_clients:
            self.clients[cid]["phone"] = f"+8{day_idx:03d}{cid[1:]}"
        bg_accounts = [f"A{cid[1:]}{j}" for cid in bg for j in (0, 1)]
        changed_accounts = pick(bg_accounts)
        for acc in changed_accounts:
            self.accounts[acc][0] = FAR + dt.timedelta(days=day_idx)
        changed_cards = pick([self.clients[cid]["card"] for cid in bg])
        for card in changed_cards:
            acc = self.cards[card]
            self.cards[card] = acc[:-1] + ("1" if acc.endswith("0") else "0")
        changed_terms = pick(list(self.terminals))
        for tid in changed_terms:
            self.terminals[tid][2] = f"addr-{tid}-d{day_idx}"
        return {
            "clients": len(changed_clients),
            "accounts": len(changed_accounts),
            "cards": len(changed_cards),
            "terminals": len(changed_terms),
        }

    # -- writers ------------------------------------------------------------

    def _write_source_db(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cl = list(self.clients.values())
        tables = {
            "clients": pa.table(
                {
                    "client_id": [c["client_id"] for c in cl],
                    "last_name": [c["last_name"] for c in cl],
                    "first_name": [c["first_name"] for c in cl],
                    "patronymic": [c["patronymic"] for c in cl],
                    "date_of_birth": pa.array([c["date_of_birth"] for c in cl], pa.date32()),
                    "passport_num": [c["passport_num"] for c in cl],
                    "passport_valid_to": pa.array(
                        [c["passport_valid_to"] for c in cl], pa.date32()
                    ),
                    "phone": [c["phone"] for c in cl],
                }
            ),
            "accounts": pa.table(
                {
                    "account": list(self.accounts),
                    "valid_to": pa.array([v[0] for v in self.accounts.values()], pa.date32()),
                    "client": [v[1] for v in self.accounts.values()],
                }
            ),
            "cards": pa.table({"card_num": list(self.cards), "account": list(self.cards.values())}),
        }
        for name, table in tables.items():
            final = os.path.join(self.source_dir, f"{name}.parquet")
            tmp = final + ".tmp"
            pq.write_table(table, tmp)
            os.replace(tmp, final)

    def write_day(self) -> DayBatch:
        i = self.next_day
        if i >= self.spec.days:
            raise ValueError(f"generator holds {self.spec.days} days")
        self.next_day += 1
        rng = random.Random(self.seed * 1_000_003 + i)
        day = START + dt.timedelta(days=i)
        batch = DayBatch(date=ddmmyyyy(day), day=day)
        batch.churned = self._churn(rng, i)
        self._write_source_db()

        rows: list[tuple] = []  # (id, ts, card, type, cents, result, terminal)
        seq = 0

        def tx(ts, card, cents, result, terminal, oper="PAYMENT"):
            nonlocal seq
            tid = f"{i:03d}{seq:08d}"
            seq += 1
            rows.append((tid, ts, card, oper, cents, result, terminal))

        # planted events: each fires exactly one rule
        for rule in RULES:
            for cid in self.plant_clients[(i, rule)]:
                c = self.clients[cid]
                home = rng.choice(self.by_city[c["city"]])
                t0 = _ts(day, rng.randrange(60, 22 * 3600))
                fio = f"{c['first_name']} {c['patronymic']} {c['last_name']}"

                def hit(ts):
                    batch.expected.append((ts, c["passport_num"], fio, c["phone"], rule))

                if rule in (EV_BLOCKED, EV_EXPIRED, EV_INVALID):
                    tx(t0, c["card"], rng.randrange(100, 500000), "SUCCESS", home)
                    hit(t0)
                    if rule == EV_BLOCKED:
                        self.blacklisted.append((c["passport_num"], day.isoformat()))
                elif rule == EV_DIFF_CITY:
                    other_city = rng.choice([x for x in CITIES if x != c["city"]])
                    t1 = t0 + dt.timedelta(minutes=30)
                    tx(t0, c["card"], rng.randrange(100, 500000), "SUCCESS", home)
                    tx(t1, c["card"], rng.randrange(100, 500000), "SUCCESS",
                       rng.choice(self.by_city[other_city]))
                    hit(t0)
                    hit(t1)
                else:  # brute force: R,R,R,S with strictly falling amounts in 9 min
                    amounts = sorted(rng.sample(range(100, 500000), 4), reverse=True)
                    for k, (cents, res) in enumerate(
                        zip(amounts, ("REJECT", "REJECT", "REJECT", "SUCCESS"))
                    ):
                        tx(t0 + dt.timedelta(minutes=3 * k), c["card"], cents, res, home)
                    hit(t0)

        # background traffic: one home city per card, >= 25 min apart
        n_bg = max(0, self.spec.tx_per_day - len(rows))
        per_client: dict[str, int] = {}
        for _ in range(n_bg):
            cid = self.background[rng.randrange(len(self.background))]
            per_client[cid] = per_client.get(cid, 0) + 1
        for cid, n in per_client.items():
            c = self.clients[cid]
            terms = self.by_city[c["city"]]
            for slot in rng.sample(range(N_SLOTS), min(n, N_SLOTS)):
                ts = _ts(day, slot * SLOT_MIN * 60 + rng.randrange(60))
                tx(
                    ts,
                    c["card"],
                    rng.randrange(100, 500000),
                    "REJECT" if rng.random() < 0.05 else "SUCCESS",
                    rng.choice(terms),
                    oper=rng.choice(("PAYMENT", "WITHDRAW", "DEPOSIT")),
                )
        rng.shuffle(rows)
        batch.tx_rows = len(rows)

        d = batch.date
        with open(os.path.join(self.input_dir, f"transactions_{d}.txt"), "w") as f:
            f.write(TX_HEADER + "\n")
            f.writelines(
                f"{r[0]};{r[1]:%Y-%m-%d %H:%M:%S};{r[2]};{r[3]};{_amount(r[4])};{r[5]};{r[6]}\n"
                for r in rows
            )
        with open(os.path.join(self.input_dir, f"terminals_{d}.csv"), "w") as f:
            f.write("terminal_id,terminal_type,terminal_city,terminal_address\n")
            f.writelines(f"{t},{v[0]},{v[1]},{v[2]}\n" for t, v in self.terminals.items())
        # today's blocks, every earlier block again (insert-if-absent must
        # dedup them) and passports no client holds
        with open(os.path.join(self.input_dir, f"passport_blacklist_{d}.csv"), "w") as f:
            f.write("passport,date\n")
            f.writelines(f"{p},{when}\n" for p, when in self.blacklisted)
            f.writelines(f"X{i:03d}{k:05d},{day.isoformat()}\n" for k in range(5))
        return batch

    def key_counts(self) -> dict[str, int]:
        return {
            "clients": len(self.clients),
            "accounts": len(self.accounts),
            "cards": len(self.cards),
            "terminals": len(self.terminals),
        }


# -- index lifecycle ---------------------------------------------------------


@dataclass
class IndexSpec:
    corpus: int
    epoch_fresh: int
    epoch_dups: int
    deletes: int
    queries: int
    words: int = 40
    vocab: int = 4000
    dim: int = 16
    clusters: int = 8


class IndexGenerator:
    """Documents and embeddings share one id space: item i has a text
    and a vector. Epoch e re-ids: fresh ids continue the sequence and
    planted duplicates copy a live document's text (and vector) under a
    new id."""

    def __init__(self, spec: IndexSpec, seed: int):
        self.spec = spec
        self.rng = random.Random(seed)
        rng = self.rng
        self.vocab = [f"w{k:05d}" for k in range(spec.vocab)]
        self.weights = [1.0 / (k + 1) ** 0.8 for k in range(spec.vocab)]
        self.centers = [
            [rng.gauss(0.0, 3.0) for _ in range(spec.dim)] for _ in range(spec.clusters)
        ]
        self.next_id = 1
        self.items: dict[int, tuple[str, list[float]]] = {}

    def _fresh(self, n: int) -> list[int]:
        rng = self.rng
        ids = []
        for _ in range(n):
            i = self.next_id
            self.next_id += 1
            text = " ".join(rng.choices(self.vocab, self.weights, k=self.spec.words))
            c = self.centers[rng.randrange(len(self.centers))]
            vec = [x + rng.gauss(0.0, 1.0) for x in c]
            self.items[i] = (text, vec)
            ids.append(i)
        return ids

    def corpus(self) -> list[int]:
        return self._fresh(self.spec.corpus)

    def epoch(self, live: list[int]) -> tuple[list[int], dict[int, int]]:
        """Fresh ids plus {dup_id: original_id} planted copies of live
        documents."""
        fresh = self._fresh(self.spec.epoch_fresh)
        dups = {}
        for orig in self.rng.sample(sorted(live), self.spec.epoch_dups):
            i = self.next_id
            self.next_id += 1
            self.items[i] = self.items[orig]
            dups[i] = orig
        return fresh, dups

    def deletions(self, live: list[int]) -> list[int]:
        return sorted(self.rng.sample(sorted(live), self.spec.deletes))

    def term_queries(self) -> dict[str, list[str]]:
        rng = random.Random(self.rng.random())
        head = self.vocab[: self.spec.vocab // 4]
        return {f"q{k}": rng.sample(head, 3) for k in range(self.spec.queries)}

    def vector_queries(self) -> list[tuple[int, list[float]]]:
        rng = random.Random(self.rng.random())
        return [
            (k, [x + rng.gauss(0.0, 1.0) for x in self.centers[k % len(self.centers)]])
            for k in range(self.spec.queries)
        ]
