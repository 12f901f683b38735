"""The interactive query templates and their seeded op stream.

Each template builds a ``q(...)`` over named sources (Spark DataFrames,
or parquet taps on the in-memory platform) from a dict of constants, and
states the same question as DuckDB SQL over the same parquet files: the
SQL is the output check.  Shapes cover the planner's main lowerings —
multi-way implicit join, constant-bound filter, grouped aggregate,
anti-join through negation, ``!!`` outer join, per-group top-k,
semi-join subquery and ``distinct``.
"""

from __future__ import annotations

from collections import Counter

from cascalog_spark import c, q

from . import gen

REPEAT_SHARE = 0.25   # share of ops that re-issue an earlier op verbatim


def join3(s, k):
    return q(["?name", "?ok", "?qty"],
             (s["customer"], {"c_custkey": "?ck", "c_name": "?name",
                              "c_nationkey": k["nation"]}),
             (s["orders"], {"o_custkey": "?ck", "o_orderkey": "?ok"}),
             (s["lineitem"], {"l_orderkey": "?ok", "l_quantity": "?qty"}),
             (c.gte, "?qty", k["qty"]))


def filter_range(s, k):
    return q(["?ok", "?price"],
             (s["orders"], {"o_orderkey": "?ok", "o_totalprice": "?price",
                            "o_orderstatus": k["status"]}),
             (c.gte, "?price", k["lo"]),
             (c.lt, "?price", k["lo"] + k["width"]))


def group_agg(s, k):
    return q(["?nk", "?n", "?qty"],
             (s["part"], {"p_partkey": "?pk", "p_brand": k["brand"]}),
             (s["lineitem"], {"l_partkey": "?pk", "l_suppkey": "?sk",
                              "l_quantity": "?q"}),
             (s["supplier"], {"s_suppkey": "?sk", "s_nationkey": "?nk"}),
             (c.count, "?n"),
             (c.sum, "?q", ":>", "?qty"))


def anti_join(s, k):
    return q(["?ck", "?bal"],
             (s["customer"], {"c_custkey": "?ck", "c_acctbal": "?bal",
                              "c_mktsegment": k["segment"]}),
             (s["orders"], {"o_custkey": "?ck",
                            "o_orderstatus": k["status"]}, ":>", False))


def outer_join(s, k):
    return q(["?pk", "!!q"],
             (s["part"], {"p_partkey": "?pk", "p_size": k["size"],
                          "p_type": k["ptype"]}),
             (s["lineitem"], {"l_partkey": "?pk", "l_quantity": "!!q",
                              "l_discount": k["discount"],
                              "l_returnflag": k["flag"]}))


def top_k(s, k):
    return q(["?ck", "?top", "?r"],
             (s["customer"], {"c_custkey": "?ck",
                              "c_nationkey": k["nation"]}),
             (s["orders"], {"o_custkey": "?ck", "o_totalprice": "?price"}),
             (c.limit_rank(3), "?price", ":>", "?top", "?r"),
             sort=["?price"], reverse=True)


def semi_join(s, k):
    big = q(["?ck"],
            (s["orders"], {"o_custkey": "?ck", "o_totalprice": "?p"}),
            (c.gt, "?p", k["price"]))
    return q(["?ck", "?name"],
             (s["customer"], {"c_custkey": "?ck", "c_name": "?name",
                              "c_mktsegment": k["segment"]}),
             (big, "?ck", ":>", True))


def distinct(s, k):
    return q(["?ck", "?prio"],
             (s["orders"], {"o_custkey": "?ck", "o_orderpriority": "?prio",
                            "o_totalprice": "?p"}),
             (c.gt, "?p", k["price"]),
             distinct=True)


SQL = {
    "join3": """select c_name, o_orderkey, l_quantity from customer
        join orders on o_custkey = c_custkey
        join lineitem on l_orderkey = o_orderkey
        where c_nationkey = {nation} and l_quantity >= {qty}""",
    "filter_range": """select o_orderkey, o_totalprice from orders
        where o_orderstatus = '{status}' and o_totalprice >= {lo}
          and o_totalprice < {lo} + {width}""",
    "group_agg": """select s_nationkey, count(*), sum(l_quantity) from part
        join lineitem on l_partkey = p_partkey
        join supplier on s_suppkey = l_suppkey
        where p_brand = '{brand}' group by s_nationkey""",
    "anti_join": """select c_custkey, c_acctbal from customer
        where c_mktsegment = '{segment}' and not exists (
          select 1 from orders
          where o_custkey = c_custkey and o_orderstatus = '{status}')""",
    "outer_join": """select p_partkey, l_quantity from part
        left join (select * from lineitem where l_discount = {discount}
                   and l_returnflag = '{flag}') l on l_partkey = p_partkey
        where p_size = {size} and p_type = '{ptype}'""",
    "top_k": """select ck, price, r from (
          select c_custkey ck, o_totalprice price, row_number() over (
            partition by c_custkey order by o_totalprice desc) r
          from customer join orders on o_custkey = c_custkey
          where c_nationkey = {nation}) where r <= 3""",
    "semi_join": """select c_custkey, c_name from customer
        where c_mktsegment = '{segment}' and exists (
          select 1 from orders
          where o_custkey = c_custkey and o_totalprice > {price})""",
    "distinct": """select distinct o_custkey, o_orderpriority from orders
        where o_totalprice > {price}""",
}

TEMPLATES = {"join3": join3, "filter_range": filter_range,
             "group_agg": group_agg, "anti_join": anti_join,
             "outer_join": outer_join, "top_k": top_k,
             "semi_join": semi_join, "distinct": distinct}

#: tables each template scans (the input rows an op consumes)
TABLES = {"join3": ("customer", "orders", "lineitem"),
          "filter_range": ("orders",),
          "group_agg": ("part", "lineitem", "supplier"),
          "anti_join": ("customer", "orders"),
          "outer_join": ("part", "lineitem"),
          "top_k": ("customer", "orders"),
          "semi_join": ("customer", "orders"),
          "distinct": ("orders",)}


def _constants(name: str, r) -> dict:
    pick = lambda xs: xs[int(r.integers(0, len(xs)))]  # noqa: E731
    if name == "join3":
        return {"nation": int(r.integers(0, 25)),
                "qty": int(r.integers(10, 45))}
    if name == "filter_range":
        return {"status": pick(["F", "O"]),
                "lo": int(r.integers(100_000, 49_000_000)),
                "width": 500_000}
    if name == "group_agg":
        return {"brand": f"Brand#{r.integers(1, 6)}{r.integers(1, 6)}"}
    if name == "anti_join":
        return {"segment": pick(gen.SEGMENTS), "status": pick(["F", "O"])}
    if name == "outer_join":
        return {"size": int(r.integers(1, 51)), "ptype": pick(gen.PART_TYPES),
                "discount": int(r.integers(0, 11)),
                "flag": pick(gen.RETURN_FLAGS)}
    if name == "top_k":
        return {"nation": int(r.integers(0, 25))}
    if name == "semi_join":
        return {"segment": pick(gen.SEGMENTS),
                "price": int(r.integers(40_000_000, 49_900_000))}
    return {"price": int(r.integers(45_000_000, 49_500_000))}


def rounds(seed: int, warmup: bool = False):
    """Endless seeded rounds of ops ``(template, constants, is_repeat)``.
    A round issues every template once, in a seeded order, so each run
    sees the same mix.  In ``REPEAT_SHARE`` of slots the template's
    previous op is re-issued verbatim, like a dashboard refresh; the others
    get fresh constants.  ``warmup`` draws from a separate stream."""
    r = gen.rng(seed, "warmup-ops" if warmup else "interactive-ops")
    last: dict[str, dict] = {}
    while True:
        out = []
        for i in r.permutation(len(TEMPLATES)).tolist():
            name = list(TEMPLATES)[i]
            if name in last and r.random() < REPEAT_SHARE:
                out.append((name, last[name], True))
            else:
                last[name] = _constants(name, r)
                out.append((name, last[name], False))
        yield out


def canon(rows) -> Counter:
    """Order-independent multiset of result rows."""
    return Counter(tuple(r) for r in rows)


class DuckOracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, paths: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for name, path in paths.items():
            self.con.execute(
                f"create view {name} as select * from read_parquet('{path}')")

    def rows(self, name: str, k: dict) -> Counter:
        return canon(self.con.execute(SQL[name].format(**k)).fetchall())

    def close(self) -> None:
        self.con.close()
