"""Seeded input generators.  Every input a workload feeds the program is
made here from the run's seed; the same seed gives byte-identical files.

* ``write_sf_tables``  - the TPC-H-ish tables plus ``events``,
  ``documents`` and ``embeddings`` that the query registry reads, with
  the column names, types and value ranges of the TESTDATA.md tables.
* ``write_ledger``     - one month of finance raw CSVs (FIXTURES.md A)
  at a chosen row count, with a seeded handful of dirty rows from each
  DQ family.  Each dirty row fails exactly one check and is dated
  outside the month, so it reaches ``dq_exceptions`` but never the fact
  table or the FX join.
* ``write_corpus``     - a ``documents`` table with the measured
  statistics of TESTDATA.md's sf0.1 ``documents``, near-duplicate and
  exact copies included.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark data table query row column key value hash join group "
    "sort filter scan agg window stream batch merge order customer part "
    "line vector index fast slow big small"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _days(base: date, days: np.ndarray) -> pa.Array:
    return _ts(datetime(base.year, base.month, base.day), days.astype(np.int64) * 86400)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def write_sf_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten registry tables at scale factor ``sf`` (sf0.001: 6,000
    lineitem rows, 1,000 events, 500 documents and embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    n_cust = max(150, int(150_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(p("part"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(date(1995, 1, 1), rng.integers(0, 2400, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(date(1995, 1, 2), rng.integers(0, 2500, n_line)),
    })
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(
            datetime(2024, 1, 1),
            np.sort(rng.uniform(0, 30 * 86400, n_ev)).round(6),
        ),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = max(500, int(50_000 * sf))
    texts = _texts(rng, n_docs, 8, 100)
    _write(p("documents"), _documents(np.arange(n_docs), texts, rng))
    n_emb = max(500, int(20_000 * sf))
    vec = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


def _documents(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> dict:
    n = len(texts)
    return {
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# The sf0.1 ``documents`` table of TESTDATA.md, measured: 5,000 docs of
# 10-100 whitespace tokens (uniform; median 54), drawn uniformly from
# these 30 words; 52 distinct 3-shingles per doc; lang en 41 %, the four
# others 14-15 % each; 20 sources of 250 docs; 250 near-duplicate copies
# (5 %) that are a source doc with the token "dup" appended (3-shingle
# Jaccard >= 8/9); 8 exact copies (0.16 %).
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANG_P = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
DOC_TOKENS = (10, 100)
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 8 / 5000


@dataclass
class Corpus:
    path: str
    n_docs: int
    texts: dict[int, str]  # doc_id -> text
    injected: list[int]  # doc_ids of the near-duplicate copies
    exact: list[int]  # doc_ids of the exact copies
    source_of: dict[int, int] = field(default_factory=dict)  # copy -> its source


def write_corpus(path: str, seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents with the sf0.1 ``documents`` statistics above:
    sources first, then the near-duplicate copies (a source plus " dup")
    and the exact copies.  Copies get doc_ids above every source, so the
    min-id keepers drop the copy; where sf0.1 scatters them does not
    change the dedup work."""
    rng = np.random.default_rng(seed)
    n_near = int(round(NEAR_DUP_FRAC * n_docs))
    n_exact = max(1, int(round(EXACT_DUP_FRAC * n_docs)))
    n_src = n_docs - n_near - n_exact
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_src)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    picks = rng.choice(n_src, size=n_near + n_exact, replace=False)
    texts += [texts[s] + " dup" for s in picks[:n_near]] + [texts[s] for s in picks[n_near:]]
    ids = np.arange(n_docs, dtype=np.int64)
    langs = list(DOC_LANG_P)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(path, {
        "doc_id": ids,
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n_docs, p=list(DOC_LANG_P.values()))],
        "source": [f"src{i}" for i in ids % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    copies = list(range(n_src, n_docs))
    return Corpus(
        path=path, n_docs=n_docs, texts=dict(enumerate(texts)),
        injected=copies[:n_near], exact=copies[n_near:],
        source_of={c: int(s) for c, s in zip(copies, picks)},
    )


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Distinct word n-grams of the lowercased text (``dedup.shingles_expr``)."""
    toks = text.lower().split()
    return set(zip(*(toks[i:] for i in range(n))))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


# ---------------------------------------------------------------------------
# finance ledger (FIXTURES.md A; value ranges of sample_data.generate_raw)
# ---------------------------------------------------------------------------

ENTITIES = ("TLM", "UPE")
CURRENCIES = ("USD", "TZS", "EUR")
SKUS = ("HONEY-DRUM", "WAX-BLOCK", "GIN-750ML")
REVENUE_CODES = ("40000001", "40000002")
EXPENSE_CODES = ("62000001", "63000001", "64000001")
MOVES = ("receipt", "issue", "adjustment")

# one dirty family per DQ check kind: (dataset, what the row breaks)
DIRTY_FAMILIES = (
    "sales_amount_le_0",
    "sales_unknown_account",
    "sales_bad_currency",
    "sales_duplicate_key",
    "expenses_non_numeric_amount",
    "payroll_identity",
    "inventory_bad_movement",
    "inventory_zero_qty",
    "fx_rate_le_0",
)


@dataclass
class Ledger:
    raw_dir: str
    reference_dir: str
    month: str
    clean_in_month: int
    injected: dict[str, int] = field(default_factory=dict)

    @property
    def injected_total(self) -> int:
        return sum(self.injected.values())


def _month_days(month: str) -> list[date]:
    start = date.fromisoformat(f"{month}-01")
    end = (start.replace(day=28) + timedelta(days=5)).replace(day=1)
    return [start + timedelta(days=i) for i in range((end - start).days)]


def _csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def write_ledger(
    root: str, seed: int, rows_per_source: int, month: str = "2025-12"
) -> Ledger:
    """Raw CSVs for one month: ``rows_per_source`` clean rows in each of
    sales, expenses, payroll and inventory, split over two entities,
    plus 1-3 dirty rows per family in ``DIRTY_FAMILIES``."""
    from finance_etl_pipeline_spark import sample_data

    rng = np.random.default_rng(seed)
    raw, ref = os.path.join(root, "raw"), os.path.join(root, "reference")
    os.makedirs(raw, exist_ok=True)
    sample_data.generate_reference(ref)
    days = [d.isoformat() for d in _month_days(month)]
    outside = (_month_days(month)[-1] + timedelta(days=15)).isoformat()
    next_month = outside[:7]
    n = rows_per_source
    injected = {f: int(k) for f, k in zip(DIRTY_FAMILIES, rng.integers(1, 4, len(DIRTY_FAMILIES)))}

    fx = []
    for d in days:
        fx.append([d, "USD", "USD", 1.0])
        fx.append([d, "EUR", "USD", round(float(rng.uniform(1.05, 1.15)), 6)])
        fx.append([d, "TZS", "USD", round(float(rng.uniform(0.00038, 0.00045)), 8)])
    # a non-positive rate on dates no fact row uses (unique keys)
    for k in range(injected["fx_rate_le_0"]):
        fx.append([(date.fromisoformat(outside) + timedelta(days=k)).isoformat(), "EUR", "USD", -1.0])
    _csv(os.path.join(raw, "fx_rates.csv"), ["date", "from_currency", "to_currency", "rate"], fx)

    def amounts(lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values):
        return np.array(values)[rng.integers(0, len(values), n)]

    ent = np.array(ENTITIES)[np.arange(n) % 2]
    sales = [
        [d, e, f"INV-{e}-{i:07d}", a, c, amt, f"Sale {i}"]
        for i, (d, e, a, c, amt) in enumerate(
            zip(pick(days), ent, pick(REVENUE_CODES), pick(CURRENCIES), amounts(200, 5000))
        )
    ]
    dirty = []
    for k in range(injected["sales_amount_le_0"]):
        dirty.append([outside, "TLM", f"INV-TLM-N{k:04d}", "40000001", "USD", -10.0, "bad amount"])
    for k in range(injected["sales_unknown_account"]):
        dirty.append([outside, "TLM", f"INV-TLM-A{k:04d}", "99999999", "USD", 100.0, "bad account"])
    for k in range(injected["sales_bad_currency"]):
        dirty.append([outside, "UPE", f"INV-UPE-C{k:04d}", "40000001", "GBP", 100.0, "bad currency"])
    for k in range(injected["sales_duplicate_key"]):
        d = list(sales[k])
        d[0] = outside
        dirty.append(d)
    _csv(
        os.path.join(raw, "sales.csv"),
        ["date", "entity", "invoice_id", "account_code", "currency", "amount", "description"],
        sales + dirty,
    )

    expenses = [
        [d, e, f"BILL-{e}-{i:07d}", a, c, amt, f"Expense {i}"]
        for i, (d, e, a, c, amt) in enumerate(
            zip(pick(days), ent, pick(EXPENSE_CODES), pick(CURRENCIES), amounts(50, 2500))
        )
    ]
    for k in range(injected["expenses_non_numeric_amount"]):
        expenses.append([outside, "UPE", f"BILL-UPE-N{k:04d}", "62000001", "USD", "not-a-number", "dtype"])
    _csv(
        os.path.join(raw, "expenses.csv"),
        ["date", "entity", "bill_id", "account_code", "currency", "amount", "description"],
        expenses,
    )

    gross = amounts(800, 3000)
    ded = np.round(gross * rng.uniform(0.1, 0.3, n), 2)
    payroll = [
        [month, e, f"EMP-{e}-{i:07d}", c, float(g), float(dd), round(float(g) - float(dd), 2)]
        for i, (e, c, g, dd) in enumerate(zip(ent, pick(("USD", "TZS")), gross, ded))
    ]
    for k in range(injected["payroll_identity"]):
        payroll.append([next_month, "UPE", f"EMP-UPE-B{k:04d}", "USD", 1000.0, 100.0, 500.0])
    _csv(
        os.path.join(raw, "payroll.csv"),
        ["month", "entity", "employee_id", "currency", "gross", "deductions", "net"],
        payroll,
    )

    inventory = [
        [d, e, s, m, q, u, c]
        for d, e, s, m, q, u, c in zip(
            pick(days), ent, pick(SKUS), pick(MOVES), amounts(1, 50), amounts(2, 80), pick(CURRENCIES)
        )
    ]
    for _ in range(injected["inventory_bad_movement"]):
        inventory.append([outside, "TLM", "WAX-BLOCK", "teleport", 5.0, 10.0, "USD"])
    for _ in range(injected["inventory_zero_qty"]):
        inventory.append([outside, "TLM", "GIN-750ML", "receipt", 0.0, 10.0, "USD"])
    _csv(
        os.path.join(raw, "inventory_movements.csv"),
        ["date", "entity", "sku", "movement_type", "qty", "unit_cost", "currency"],
        inventory,
    )
    return Ledger(raw, ref, month, clean_in_month=4 * n, injected=injected)
