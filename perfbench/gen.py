"""Seeded input generation for the benchmark.

Everything the engine sees is made here from ``--seed``: the star-schema
tables (written as parquet), the SQL statement lists and the document
corpus with its planted duplicates. The same seed gives byte-identical
output; nothing here touches Spark or the engine.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

# -------------------------------------------------------------- star --

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
TYPE_A = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
TYPE_B = ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"]
TYPE_C = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
COLORS = [
    "almond", "azure", "blue", "coral", "cyan", "forest", "ivory", "khaki",
    "lemon", "linen", "navy", "olive", "peach", "plum", "rose", "tan",
]
EPOCH = dt.date(1970, 1, 1)
START_DAY = (dt.date(1992, 1, 1) - EPOCH).days
END_DAY = (dt.date(1998, 8, 2) - EPOCH).days
CUTOFF_DAY = (dt.date(1995, 6, 17) - EPOCH).days


def _pick(rng: np.random.Generator, words: list[str], n: int) -> np.ndarray:
    return np.asarray(words, dtype=object)[rng.integers(0, len(words), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Cent-exact values as doubles (both engines sum them the same
    up to rounding, which the comparison tolerates)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int32"), pa.int32()).cast(pa.date32())


def star_schema(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema at scale factor ``sf`` (sf 0.1:
    600k lineitems, 150k orders, 15k customers, 20k parts, 1k
    suppliers). Column names follow the repo's fixture tables."""
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    ck = np.arange(1, n_cust + 1)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(1, n_supp + 1)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(1, n_part + 1)
    c1, c2 = _pick(rng, COLORS, n_part), _pick(rng, COLORS, n_part)
    t1, t2, t3 = (
        _pick(rng, TYPE_A, n_part), _pick(rng, TYPE_B, n_part),
        _pick(rng, TYPE_C, n_part),
    )
    brand = rng.integers(1, 6, n_part) * 10 + rng.integers(1, 6, n_part)
    retail = np.round(900 + (pk % 200_000) / 10 + 100 * (pk % 1_000) / 1000, 2)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(c1, c2)],
        "p_brand": [f"Brand#{b}" for b in brand],
        "p_type": [f"{a} {b} {c}" for a, b, c in zip(t1, t2, t3)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": retail,
    })
    # Sparse order keys, as in TPC-H: 8 keys used out of every 32.
    ok = (np.arange(n_ord) // 8) * 32 + np.arange(n_ord) % 8 + 1
    odate = rng.integers(START_DAY, END_DAY - 151, n_ord)
    nlines = rng.integers(1, 8, n_ord)
    n_li = int(nlines.sum())
    l_ok = np.repeat(ok, nlines)
    l_odate = np.repeat(odate, nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    l_num = (np.arange(n_li) - starts + 1).astype("int32")
    l_pk = rng.integers(1, n_part + 1, n_li)
    l_sk = rng.integers(1, n_supp + 1, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ext = np.round(qty * retail[l_pk - 1], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = l_odate + rng.integers(1, 122, n_li)
    commit = l_odate + rng.integers(30, 91, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    rflag = np.where(
        receipt <= CUTOFF_DAY, _pick(rng, ["R", "A"], n_li), "N"
    ).astype(object)
    lstatus = np.where(ship > CUTOFF_DAY, "O", "F").astype(object)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": l_sk,
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rflag,
        "l_linestatus": lstatus,
        "l_shipdate": _dates(ship),
        "l_commitdate": _dates(commit),
        "l_receiptdate": _dates(receipt),
        "l_shipmode": _pick(rng, SHIPMODES, n_li),
    })
    gross = ext * (1 + tax) * (1 - disc)
    totals = np.round(np.bincount(
        np.repeat(np.arange(n_ord), nlines), weights=gross, minlength=n_ord
    ), 2)
    last_ship = np.maximum.reduceat(ship, np.cumsum(nlines) - nlines)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord),
        "o_orderstatus": np.where(last_ship > CUTOFF_DAY, "O", "F").astype(object),
        "o_totalprice": totals,
        "o_orderdate": _dates(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
)


def _day(d: int) -> str:
    return (EPOCH + dt.timedelta(days=int(d))).isoformat()


# ------------------------------------------------------------- reads --
#
# Each template is (name, class, sql maker), listed in Zipf rank order.
# The rank and the deck order are fixed, not seeded, so every seed sees
# the same Zipf-shaped mix and only the literals change — that keeps
# the latency percentiles comparable across seeds.


def _read_templates(sf: float):
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_part = int(200_000 * sf)

    def orderkey(r):
        i = int(r.integers(0, n_ord))
        return (i // 8) * 32 + i % 8 + 1

    def point_order(r):
        return (
            "select o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate from orders where o_orderkey = "
            f"{orderkey(r)}"
        )

    def point_lineitem(r):
        return (
            "select l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice, l_shipdate from lineitem where l_orderkey = "
            f"{orderkey(r)}"
        )

    def point_customer(r):
        return (
            "select c_custkey, c_name, c_acctbal, c_mktsegment from customer "
            f"where c_custkey = {int(r.integers(1, n_cust + 1))}"
        )

    def q1_agg(r):
        d = _day(END_DAY - int(r.integers(60, 121)))
        return (
            "select l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
            "sum(l_extendedprice) as sum_base, "
            "sum(l_extendedprice * (1 - l_discount)) as sum_disc, "
            "avg(l_quantity) as avg_qty, avg(l_discount) as avg_disc, "
            "count(*) as n from lineitem "
            f"where l_shipdate <= date '{d}' "
            "group by l_returnflag, l_linestatus "
            "order by l_returnflag, l_linestatus"
        )

    def topk_customers(r):
        d = _day(int(r.integers(START_DAY, END_DAY - 400)))
        k = int(r.integers(5, 21))
        return (
            "select o_custkey, sum(o_totalprice) as spend, count(*) as n "
            f"from orders where o_orderdate >= date '{d}' "
            f"and o_orderdate < date '{d}' + interval 90 day "
            f"group by o_custkey order by spend desc, o_custkey limit {k}"
        )

    def star3(r):
        seg = SEGMENTS[int(r.integers(0, 5))]
        d = _day(int(r.integers(START_DAY + 400, END_DAY - 400)))
        return (
            "select l_orderkey, o_orderdate, "
            "sum(l_extendedprice * (1 - l_discount)) as revenue "
            "from customer, orders, lineitem "
            f"where c_mktsegment = '{seg}' and c_custkey = o_custkey "
            f"and l_orderkey = o_orderkey and o_orderdate < date '{d}' "
            f"and l_shipdate > date '{d}' "
            "group by l_orderkey, o_orderdate "
            "order by revenue desc, l_orderkey limit 10"
        )

    def star5(r):
        reg = REGIONS[int(r.integers(0, 5))]
        y = int(r.integers(1993, 1998))
        return (
            "select n_name, sum(l_extendedprice * (1 - l_discount)) as revenue "
            "from customer, orders, lineitem, supplier, nation, region "
            "where c_custkey = o_custkey and l_orderkey = o_orderkey "
            "and l_suppkey = s_suppkey and c_nationkey = s_nationkey "
            "and s_nationkey = n_nationkey and n_regionkey = r_regionkey "
            f"and r_name = '{reg}' and o_orderdate >= date '{y}-01-01' "
            f"and o_orderdate < date '{y + 1}-01-01' "
            "group by n_name order by revenue desc, n_name"
        )

    def correlated(r):
        n = int(r.integers(0, 25))
        return (
            "select c.c_custkey, c.c_acctbal from customer c "
            f"where c.c_nationkey = {n} and c.c_acctbal > "
            "(select avg(c2.c_acctbal) * 1.8 from customer c2 "
            "where c2.c_nationkey = c.c_nationkey) "
            "and exists (select 1 from orders o where o.o_custkey = c.c_custkey "
            "and o.o_orderpriority = '1-URGENT')"
        )

    def window_running(r):
        lo = int(r.integers(1, n_cust - 40))
        return (
            "select o_custkey, o_orderkey, o_orderdate, "
            "sum(o_totalprice) over (partition by o_custkey "
            "order by o_orderdate, o_orderkey rows unbounded preceding) "
            "as running, row_number() over (partition by o_custkey "
            "order by o_orderdate, o_orderkey) as rn from orders "
            f"where o_custkey between {lo} and {lo + 40}"
        )

    def window_rank(r):
        mode = SHIPMODES[int(r.integers(0, 7))]
        return (
            "select l_shipmode, l_suppkey, qty, rnk from ("
            "select l_shipmode, l_suppkey, sum(l_quantity) as qty, "
            "rank() over (partition by l_shipmode order by sum(l_quantity) desc) "
            "as rnk from lineitem "
            f"where l_shipmode = '{mode}' group by l_shipmode, l_suppkey) "
            "where rnk <= 5"
        )

    def qualify_latest(r):
        lo = int(r.integers(1, n_cust - 200))
        return (
            "select o_custkey, o_orderkey, o_totalprice from orders "
            f"where o_custkey between {lo} and {lo + 200} "
            "qualify row_number() over (partition by o_custkey "
            "order by o_totalprice desc, o_orderkey) = 1"
        )

    def group_by_all(r):
        # The average is left unrounded: prices are whole cents and a
        # group holds a few dozen parts, so the exact average is often a
        # half-cent (84017/40 = 2100.425). The double average then falls
        # a unit in the last place below or above it, by summation
        # order, and round(…, 2) turns that into a one-cent difference
        # between any two engines (DuckDB alone rounds 2100.4249999999997
        # down and 1940.2749999999999 up).
        s = int(r.integers(1, 46))
        return (
            "select p_brand, p_size, count(*) as n, "
            "avg(p_retailprice) as avg_price from part "
            f"where p_size between {s} and {s + 5} group by all"
        )

    def pivot_status(r):
        y = int(r.integers(1992, 1998))
        return (
            "select * from (select o_orderpriority, o_orderstatus, "
            "o_totalprice from orders "
            f"where o_orderdate >= date '{y}-01-01' "
            f"and o_orderdate < date '{y + 1}-01-01') "
            "pivot (sum(o_totalprice) for o_orderstatus in "
            "('F' as f_total, 'O' as o_total))"
        )

    def asof_ship(r):
        lo = int(r.integers(1, n_part - 300))
        return (
            "select l.l_orderkey, l.l_linenumber, o.o_orderkey as prev_order "
            "from (select l_orderkey, l_linenumber, l_shipdate from lineitem "
            f"where l_partkey between {lo} and {lo + 300}) l "
            "asof join (select o_orderdate, max(o_orderkey) as o_orderkey "
            "from orders where o_orderpriority = '1-URGENT' "
            "group by o_orderdate) o "
            "on l.l_shipdate >= o.o_orderdate"
        )

    def list_fns(r):
        lo = int(r.integers(1, n_part - 500))
        return (
            "select p_partkey, list_sort(string_split(p_type, ' ')) as words, "
            "len(list_filter(string_split(p_name, ' '), x -> length(x) > 4)) "
            "as long_words from part "
            f"where p_partkey between {lo} and {lo + 500}"
        )

    def quantified(r):
        n = int(r.integers(0, 25))
        return (
            "select s_suppkey, s_acctbal from supplier "
            f"where s_nationkey = {n} and s_acctbal > all "
            "(select c_acctbal from customer where c_nationkey = "
            f"{n} and c_mktsegment = 'AUTOMOBILE' and c_acctbal < 9000)"
        )

    # (name, class, sql maker) in Zipf rank order: the most frequent first.
    return [
        ("point_order", "point", point_order),
        ("q1_agg", "agg", q1_agg),
        ("star3", "join", star3),
        ("point_lineitem", "point", point_lineitem),
        ("qualify_latest", "dialect", qualify_latest),
        ("topk_customers", "agg", topk_customers),
        ("window_running", "window", window_running),
        ("star5", "join", star5),
        ("group_by_all", "dialect", group_by_all),
        ("point_customer", "point", point_customer),
        ("correlated", "join", correlated),
        ("window_rank", "window", window_rank),
        ("pivot_status", "dialect", pivot_status),
        ("list_fns", "dialect", list_fns),
        ("asof_ship", "dialect", asof_ship),
        ("quantified", "dialect", quantified),
    ]


READ_CLASSES = ("agg", "join", "window", "dialect", "point")
DECK_SIZE = 32


def _zipf_deck(n_templates: int, size: int, s: float = 0.8) -> list[int]:
    """Template indices for one deck: each template appears in
    proportion to 1/rank^s, at least once (largest-remainder rounding,
    so a deck has exactly ``size`` cards)."""
    w = 1.0 / np.arange(1, n_templates + 1) ** s
    raw = w / w.sum() * (size - n_templates)
    counts = np.floor(raw).astype(int) + 1
    for i in np.argsort(-(raw - np.floor(raw)))[: size - counts.sum()]:
        counts[i] += 1
    return [i for i, c in enumerate(counts) for _ in range(c)]


def read_statements(seed: int, n_decks: int, sf: float = 0.1):
    """``n_decks`` × DECK_SIZE (template, class, sql) tuples. Each deck
    holds the fixed Zipf mix in one fixed interleaving; the seed picks
    the literals. A template's first statement in a run pays its plan
    compilation; with a fixed order that cost lands on the same deck
    positions on every seed."""
    rng = np.random.default_rng([seed, 2])
    templates = _read_templates(sf)
    deck = _zipf_deck(len(templates), DECK_SIZE)
    order = np.random.default_rng(0).permutation(deck)
    out = []
    for _ in range(n_decks):
        for i in order:
            name, cls, build = templates[i]
            out.append((name, cls, build(rng)))
    return out


# ------------------------------------------------------------ writes --

WRITE_DDL = [
    "create table accounts (id bigint primary key, region integer not null,"
    " balance double check (balance >= 0), status varchar default 'open',"
    " touched integer default 0)",
    "create table ledger (entry_id bigint primary key, account_id bigint"
    " not null, amount double check (amount > 0), kind varchar"
    " default 'deposit')",
]
WRITE_TABLES = ("accounts", "ledger")
WRITE_CLASSES = ("insert", "upsert", "update", "delete", "txn", "optimize")
N_REGIONS = 16
INITIAL_ACCOUNTS = 20000


class _KeyModel:
    """The generator's model of the live key sets, so every generated
    write is valid: new keys are fresh, updates and deletes pick live
    keys, and a rolled-back transaction restores the model."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.accounts: list[int] = list(range(1, INITIAL_ACCOUNTS + 1))
        self.next_account = INITIAL_ACCOUNTS + 1
        self.next_entry = INITIAL_ACCOUNTS + 1  # the seed gives one per account

    def live_key(self) -> int:
        """Skewed pick: recent keys (the end of the list) are favoured,
        so deletes and updates concentrate on the newest files, where
        zone maps can prune, with a tail over the old ones."""
        n = len(self.accounts)
        back = int(min(n - 1, self.rng.geometric(1.0 / max(2.0, n / 8))))
        return self.accounts[n - 1 - back]

    def fresh_accounts(self, k: int) -> list[int]:
        ids = list(range(self.next_account, self.next_account + k))
        self.next_account += k
        self.accounts.extend(ids)
        return ids

    def fresh_entries(self, k: int) -> int:
        base = self.next_entry
        self.next_entry += k
        return base

    def snapshot(self):
        return list(self.accounts), self.next_account, self.next_entry

    def restore(self, snap) -> None:
        self.accounts, self.next_account, self.next_entry = (
            list(snap[0]), snap[1], snap[2],
        )


def write_setup() -> list[str]:
    """DDL plus the initial rows: INITIAL_ACCOUNTS accounts and one
    ledger entry per account (each one INSERT … SELECT from range)."""
    return WRITE_DDL + [
        "insert into accounts select id, cast(id % "
        f"{N_REGIONS} as integer), cast((id * 37) % 1000 as double), "
        f"'open', 0 from range(1, {INITIAL_ACCOUNTS + 1}) t(id)",
        "insert into ledger (entry_id, account_id, amount) select id, id, "
        f"cast((id * 53) % 1000 + 1 as double) from range(1, {INITIAL_ACCOUNTS + 1})"
        " t(id)",
    ]


def _acct_row(r, k: int) -> str:
    region = int(r.integers(0, N_REGIONS))
    balance = f"{int(r.integers(0, 5000))}.{int(r.integers(0, 100)):02d}"
    return f"({k}, {region}, {balance}, 'open', 0)"


def _write_op(r, km: _KeyModel, op: str) -> tuple[str, str]:
    """One write statement of kind ``op`` → (class, sql)."""
    if op == "insert_values":
        ids = km.fresh_accounts(int(r.integers(5, 41)))
        return "insert", "insert into accounts values " + ", ".join(
            _acct_row(r, k) for k in ids
        )
    if op == "insert_ledger":
        k = int(r.integers(5, 21))
        base = km.fresh_entries(k)
        rows = [
            f"({base + i}, {km.live_key()}, "
            f"{int(r.integers(1, 2000))}.{int(r.integers(0, 100)):02d})"
            for i in range(k)
        ]
        return "insert", (
            "insert into ledger (entry_id, account_id, amount) values "
            + ", ".join(rows)
        )
    if op == "insert_select":
        reg = int(r.integers(0, N_REGIONS))
        base = km.fresh_entries(km.next_account)
        return "insert", (
            "insert into ledger (entry_id, account_id, amount) "
            f"select {base} + id, id, balance + 1 from accounts "
            f"where region = {reg}"
        )
    if op == "upsert_replace":
        old = sorted({km.live_key() for _ in range(int(r.integers(2, 9)))})
        rows = [_acct_row(r, k) for k in old]
        rows += [_acct_row(r, k) for k in km.fresh_accounts(int(r.integers(1, 6)))]
        return "upsert", "insert or replace into accounts values " + ", ".join(rows)
    if op == "upsert_ignore":
        old = sorted({km.live_key() for _ in range(int(r.integers(2, 9)))})
        rows = [_acct_row(r, k) for k in old]
        rows += [_acct_row(r, k) for k in km.fresh_accounts(int(r.integers(1, 6)))]
        return "upsert", "insert or ignore into accounts values " + ", ".join(rows)
    if op == "upsert_conflict":
        old = sorted({km.live_key() for _ in range(int(r.integers(2, 9)))})
        rows = [_acct_row(r, k) for k in old]
        return "upsert", (
            "insert into accounts values " + ", ".join(rows)
            + " on conflict (id) do update set balance = excluded.balance,"
            " touched = accounts.touched + 1"
        )
    if op == "update_point":
        k = km.live_key()
        return "update", (
            f"update accounts set balance = balance + {int(r.integers(1, 500))},"
            f" touched = touched + 1 where id = {k}"
        )
    if op == "update_range":
        k = km.live_key()
        return "update", (
            "update accounts set status = 'review' "
            f"where id between {k} and {k + int(r.integers(5, 60))}"
        )
    if op == "delete_point":
        k = km.live_key()
        km.accounts.remove(k)
        return "delete", f"delete from accounts where id = {k}"
    if op == "delete_range":
        k = km.live_key()
        return "delete", (
            f"delete from ledger where account_id between {k - 400} and {k}"
        )
    raise ValueError(op)


# One write deck: every op kind appears a fixed number of times, in one
# fixed order, so every seed runs the same mix; the seed picks keys and
# values.
_WRITE_DECK = (
    ["read_point"] * 3 + ["read_range"] * 2 + ["read_agg"] * 2
    + ["insert_values"] * 2 + ["insert_ledger"] * 2 + ["insert_select",
    "upsert_replace", "upsert_ignore", "upsert_conflict", "update_range",
    "update_point", "delete_point", "delete_range"]
    + ["txn_commit", "txn_rollback"]
)
# Ops that commit to `ledger`; every other write op commits to
# `accounts`, and a rolled-back transaction commits nothing.
_LEDGER_OPS = {"insert_ledger", "insert_select", "delete_range"}
# Compaction follows every OPTIMIZE_EVERY-th commit to a table within a
# deck, so each OPTIMIZE has several new small files to pack: three of
# `accounts` and one of `ledger` per deck.
OPTIMIZE_EVERY = 3
_TXN_BODY = {
    "txn_commit": ["insert_values", "update_point"],
    "txn_rollback": ["upsert_replace", "delete_point"],
}


def _read_op(km: _KeyModel, op: str) -> tuple[str, str]:
    """A point, range or aggregate read → (class, sql); range reads
    count in the 'point' class."""
    if op == "read_point":
        return "point", (
            "select id, region, balance, status, touched from accounts "
            f"where id = {km.live_key()}"
        )
    if op == "read_range":
        k = km.live_key()
        return "point", (
            "select id, balance, status from accounts "
            f"where id between {k - 50} and {k}"
        )
    return "agg", (
        "select region, count(*) as n, round(sum(balance), 2) as total, "
        "max(touched) as mt from accounts group by region"
    )


def write_statements(seed: int, n_decks: int) -> list[tuple[str, str, str]]:
    """The ingest-with-readers session as (kind, class, sql) tuples,
    kind 'read' or 'write'. Each deck is 31 statements: 7 reads, 12
    single writes, two BEGIN … COMMIT/ROLLBACK groups of two writes
    (their statements count as the 'txn' class) and four OPTIMIZEs, in
    one fixed order; the seed picks keys and values."""
    rng = np.random.default_rng([seed, 3])
    km = _KeyModel(rng)
    out: list[tuple[str, str, str]] = []
    order = np.random.default_rng(0).permutation(_WRITE_DECK)
    for _ in range(n_decks):
        commits = dict.fromkeys(WRITE_TABLES, 0)
        for op in order:
            if op.startswith("read_"):
                out.append(("read", *_read_op(km, op)))
                continue
            if op.startswith("txn_"):
                snap = km.snapshot()
                body = [_write_op(rng, km, o)[1] for o in _TXN_BODY[op]]
                end = "commit" if op == "txn_commit" else "rollback"
                if end == "rollback":
                    km.restore(snap)
                out.extend(
                    ("write", "txn", s) for s in ["begin", *body, end]
                )
                if end == "rollback":
                    continue
            else:
                out.append(("write", *_write_op(rng, km, op)))
            table = "ledger" if op in _LEDGER_OPS else "accounts"
            commits[table] += 1
            if commits[table] % OPTIMIZE_EVERY == 0:
                out.append(("write", "optimize", f"optimize {table}"))
    return out


# ------------------------------------------------------------ corpus --

# Word frequencies follow Zipf's law with exponent 1, as measured on
# natural-language text (Zipf 1949; Piantadosi, "Zipf's word frequency
# law in natural language", Psychon. Bull. Rev. 2014). The vocabulary
# size is a choice, not a measurement.
VOCAB_SIZE = 5000
ZIPF_S = 1.0
# About 14% of documents have a near-duplicate (exact copies included):
# the share Lee et al. ("Deduplicating Training Data Makes Language
# Models Better", ACL 2022, Table 2) found with MinHash in RealNews,
# the most duplicated of the corpora they measured (C4: about 3%).
# Here that is 3% exact copies of an earlier document (so up to 6%
# counting the originals) plus 8% in near-duplicate clusters of three.
COPY_SHARE = 0.03
CLUSTER_SHARE = 0.08
# Short junk for the quality filter to drop; a choice, not a measurement.
JUNK_SHARE = 0.03


def corpus(seed: int, n_docs: int, min_tokens: int = 40, max_tokens: int = 200):
    """Documents with planted duplicates, in fixed proportions:
    COPY_SHARE are exact copies of an earlier document, JUNK_SHARE are
    5-token junk that the quality filter drops, and CLUSTER_SHARE form
    near-duplicate clusters of three: a long base document (150 or more
    tokens) and two copies with one token substituted each, so every
    pair in a cluster has a shingle Jaccard above 0.9 and MinHash LSH
    finds it almost surely. That keeps the component graph's diameter
    at one on every seed. The rest are independent documents. Returns
    (table, near_pairs), near_pairs being the planted (a, b) id pairs
    with a < b."""
    rng = np.random.default_rng([seed, 4])
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)
    n_clusters = round(n_docs * CLUSTER_SHARE / 3)
    n_copies = round(n_docs * COPY_SHARE)
    n_junk = round(n_docs * JUNK_SHARE)
    n_plain = n_docs - 3 * n_clusters - n_copies - n_junk
    kinds = rng.permutation(
        ["cluster"] * n_clusters + ["copy"] * n_copies + ["junk"] * n_junk
        + ["plain"] * n_plain
    )
    texts: list[str] = []
    near: set[tuple[int, int]] = set()
    for kind in kinds:
        if kind == "copy" and texts:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif kind == "junk":
            texts.append(" ".join(words[rng.choice(VOCAB_SIZE, 5, p=p)]))
        elif kind == "cluster":
            n = int(rng.integers(max(150, min_tokens), max_tokens + 1))
            base = words[rng.choice(VOCAB_SIZE, n, p=p)]
            ids = [len(texts) + 1 + i for i in range(3)]
            texts.append(" ".join(base))
            for pos in rng.choice(n, 2, replace=False):
                v = base.copy()
                v[pos] = words[int(rng.integers(0, VOCAB_SIZE))]
                texts.append(" ".join(v))
            near.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        else:
            n = int(rng.integers(min_tokens, max_tokens + 1))
            texts.append(" ".join(words[rng.choice(VOCAB_SIZE, n, p=p)]))
    table = pa.table({
        "doc_id": np.arange(1, n_docs + 1, dtype="int64"),
        "text": texts,
    })
    return table, near
