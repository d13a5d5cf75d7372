"""Seeded wrangling flows over the benchmark tables, each with its DuckDB twin.

A flow is what the reference UI sends the engine: 3 to 6 stages of the
9-type algebra in flow-JSON form (``id``, ``type``, ``description``,
``data``). The first stage LOADs a base table, middle stages transform it
(FILTER chains with AND/OR, IN and LIKE, JOINs on same and different key
names, SELECT, SORT, UNION / UNION ALL, CUSTOM SQL in DuckDB idioms) and
the last stage reduces it (GROUP, AGGREGATE or a CUSTOM aggregate), so the
final result is small enough to compare row for row.

Every flow carries ``duck_sql``: one DuckDB query, a chain of CTEs named
after the pipeline's ``result_stage_{N}_{type}`` views, that computes the
final stage's result. Aggregates stick to COUNT, MIN, MAX and SUM/AVG over
integer-valued columns, whose results are exact in both engines.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

# Column kinds: key (join key), cat (few distinct strings), int
# (integer-valued, exact to sum), num (float), ts (timestamp), text.
SCHEMAS: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_orderkey": "key", "l_partkey": "key", "l_suppkey": "key",
        "l_linenumber": "int", "l_quantity": "int", "l_extendedprice": "num",
        "l_discount": "num", "l_tax": "num", "l_returnflag": "cat",
        "l_linestatus": "cat", "l_shipdate": "ts",
    },
    "orders": {
        "o_orderkey": "key", "o_custkey": "key", "o_orderstatus": "cat",
        "o_totalprice": "num", "o_orderdate": "ts", "o_orderpriority": "cat",
    },
    "customer": {
        "c_custkey": "key", "c_name": "text", "c_nationkey": "int",
        "c_acctbal": "num", "c_mktsegment": "cat",
    },
    "part": {
        "p_partkey": "key", "p_name": "text", "p_brand": "cat", "p_type": "cat",
        "p_size": "int", "p_retailprice": "num",
    },
    "supplier": {
        "s_suppkey": "key", "s_name": "text", "s_nationkey": "int", "s_acctbal": "num",
    },
    "events": {
        "event_id": "key", "ts": "ts", "user_id": "int", "event_type": "cat",
        "value": "num", "props": "text",
    },
    "nation": {"n_nationkey": "key", "n_name": "cat", "n_regionkey": "int"},
}

# Foreign key -> (dimension table, its key).
JOINS = {
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "c_nationkey": ("nation", "n_nationkey"),
    "s_nationkey": ("nation", "n_nationkey"),
}

CAT_VALUES = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "p_brand": [f"Brand#{i}" for i in range(1, 26)],
    "p_type": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
    "event_type": ["click", "error", "purchase", "signup", "view"],
    "n_name": [f"NATION_{i}" for i in range(25)],
}
NUM_RANGES = {
    "l_extendedprice": (900, 105000), "l_discount": (0, 0.1), "l_tax": (0, 0.08),
    "o_totalprice": (1000, 500000), "c_acctbal": (-999, 9999), "p_retailprice": (900, 1000),
    "s_acctbal": (-999, 9999), "value": (0, 200),
    "l_linenumber": (1, 7), "l_quantity": (1, 50), "c_nationkey": (0, 24), "p_size": (1, 50),
    "s_nationkey": (0, 24), "user_id": (0, 1500), "n_regionkey": (0, 4),
}
LIKE_PATTERNS = {
    "p_name": ["%bolt%", "blue%", "%ring", "%o%"],
    "c_name": ["%1%", "Customer#0000001%", "%99"],
    "s_name": ["%1%", "%00%"],
    "props": ['%"k": 1%', "%5}"],
}
TS_BOUNDS = {
    "l_shipdate": ["1996-01-01", "1998-06-30", "2000-01-01"],
    "o_orderdate": ["1996-01-01", "1998-06-30", "2000-01-01"],
    "ts": ["2024-01-08", "2024-01-15", "2024-01-22"],
}
# "int" columns stored as integers (l_quantity is an integer-valued double).
INTEGER_COLUMNS = {"l_linenumber", "c_nationkey", "p_size", "s_nationkey", "user_id", "n_regionkey"}


@dataclass
class Flow:
    name: str
    records: list[dict]
    duck_sql: str

    def to_json(self) -> str:
        return json.dumps(self.records)


def _literal(value) -> str:
    if isinstance(value, list):
        return "(" + ", ".join(_literal(v) for v in value) + ")"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


class _Builder:
    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.records: list[dict] = []
        self.ctes: list[tuple[str, str]] = []
        self.current = ""
        self.cols: dict[str, str] = {}

    # -- bookkeeping -------------------------------------------------------
    def _add(self, stype: str, desc: str, data: dict, sql: str | None, cols=None) -> str:
        n = len(self.records) + 1
        self.records.append({"id": f"stage_{n}", "type": stype, "description": desc, "data": data})
        if stype == "LOAD":
            name = data["tableName"]
        else:
            name = f"result_stage_{n}_{stype.lower()}"
            self.ctes.append((name, sql))
        self.current = name
        if cols is not None:
            self.cols = cols
        return name

    def _of(self, *kinds: str) -> list[str]:
        return [c for c, k in self.cols.items() if k in kinds]

    # -- stages ------------------------------------------------------------
    def load(self, table: str) -> None:
        self._add("LOAD", f"Load {table}", {"tableName": table}, None, dict(SCHEMAS[table]))

    def _condition(self, col: str) -> dict:
        r = self.rng
        kind = self.cols[col]
        if kind == "cat":
            vals = CAT_VALUES[col]
            op = r.choice(["=", "!=", "IN", "NOT IN", "LIKE"])
            if op in ("IN", "NOT IN"):
                value = r.sample(vals, min(len(vals), r.randint(1, 3)))
            elif op == "LIKE":
                value = r.choice(vals)[:2] + "%"
            else:
                value = r.choice(vals)
        elif kind == "text":
            op, value = "LIKE", r.choice(LIKE_PATTERNS[col])
        elif kind == "ts":
            op, value = r.choice([">", "<", ">=", "<="]), r.choice(TS_BOUNDS[col])
        else:
            lo, hi = NUM_RANGES[col]
            op = r.choice([">", "<", ">=", "<="])
            value = lo + (hi - lo) * r.uniform(0.3, 0.7)
            value = int(value) if kind == "int" else round(value, 2)
        return {"column": col, "operator": op, "value": value}

    def filter(self) -> None:
        # Distinct columns with mid-range thresholds: no chain contradicts
        # itself, so no seed gets a filter the optimizer folds to empty.
        options = [c for c in self._of("cat") if c in CAT_VALUES] + self._of("int", "num", "ts")
        options += [c for c in self._of("text") if c in LIKE_PATTERNS]
        cols = self.rng.sample(options, min(len(options), self.rng.randint(1, 3)))
        conds = [self._condition(c) for c in cols]
        parts = []
        for i, c in enumerate(conds):
            if i:
                c["logic"] = self.rng.choice(["AND", "AND", "OR"])
                parts.append(c["logic"])
            parts.append(f"{c['column']} {c['operator']} {_literal(c['value'])}")
        # No parentheses: AND binds tighter than OR, as in the reference UI.
        data = {"table": self.current, "conditions": conds}
        self._add("FILTER", f"Filter {self.current}", data, f"SELECT * FROM {self.current} WHERE {' '.join(parts)}")

    def select(self, rename: dict[str, str] | None = None) -> None:
        rename = rename or {}
        keep = [c for c in self.cols if c in rename or self.cols[c] in ("cat", "key")]
        extra = [c for c in self.cols if c not in keep]
        keep += self.rng.sample(extra, min(len(extra), self.rng.randint(1, 3)))
        exprs = [f"{c} AS {rename[c]}" if c in rename else c for c in keep]
        cols = {rename.get(c, c): self.cols[c] for c in keep}
        self._add(
            "SELECT", f"Select columns of {self.current}", {"table": self.current, "columns": exprs},
            f"SELECT {', '.join(exprs)} FROM {self.current}", cols,
        )

    def sort(self) -> None:
        keys = self.rng.sample(list(self.cols), min(len(self.cols), self.rng.randint(1, 2)))
        order = [{"column": k, "direction": self.rng.choice(["ASC", "DESC"])} for k in keys]
        sql_order = ", ".join(f"{o['column']} {o['direction']}" for o in order)
        self._add(
            "SORT", f"Sort {self.current}", {"table": self.current, "orderBy": order},
            f"SELECT * FROM {self.current} ORDER BY {sql_order}",
        )

    def join(self, fk: str, same_key: bool) -> None:
        dim, pk = JOINS[fk]
        how = self.rng.choice(["INNER", "INNER", "LEFT"])
        if same_key:
            # Rename the foreign key to the dimension's key name, then
            # JOIN ... USING (pk) keeps one key column.
            self.select(rename={fk: pk})
            data = {"leftTable": self.current, "rightTable": dim, "leftKey": pk, "rightKey": pk, "joinType": how}
            sql = f"SELECT * FROM {self.current} {how} JOIN {dim} USING ({pk})"
        else:
            data = {"leftTable": self.current, "rightTable": dim, "leftKey": fk, "rightKey": pk, "joinType": how}
            sql = f"SELECT * FROM {self.current} {how} JOIN {dim} ON {self.current}.{fk} = {dim}.{pk}"
        self._add("JOIN", f"Join {self.current} with {dim}", data, sql, {**self.cols, **SCHEMAS[dim]})

    def union(self, utype: str) -> None:
        first = self.current
        self.filter()
        data = {"tables": [first, self.current], "unionType": utype}
        self._add("UNION", f"{utype} of two slices", data, f"SELECT * FROM {first} {utype} SELECT * FROM {self.current}")

    def custom(self, idiom: str) -> None:
        r = self.rng
        t = self.current
        ts, cats, nums = self._of("ts"), self._of("cat"), self._of("int", "num")
        if idiom == "strftime":
            sql = f"SELECT *, strftime({ts[0]}, '%Y-%m') AS ym FROM {t}"
            cols = {**self.cols, "ym": "cat"}
        elif idiom == "qualify":
            # rank() keeps every tie, so the kept set is deterministic.
            sql = (
                f"SELECT * FROM {t} QUALIFY rank() OVER "
                f"(PARTITION BY {r.choice(cats)} ORDER BY {r.choice(nums)} DESC) <= {r.randint(20, 200)}"
            )
            cols = dict(self.cols)
        else:
            drop = r.choice([c for c, k in self.cols.items() if k not in ("cat", "key")] or list(self.cols)[-1:])
            sql = f"SELECT * EXCLUDE ({drop}) FROM {t}"
            cols = {c: k for c, k in self.cols.items() if c != drop}
        self._add("CUSTOM", "Custom SQL", {"sql": sql}, sql, cols)

    # -- final reducers ----------------------------------------------------
    def _aggs(self) -> list[dict]:
        aggs = [{"function": "COUNT", "column": "*", "alias": "n_rows"}]
        for i, c in enumerate(self.rng.sample(list(self.cols), min(2, len(self.cols)))):
            if self.cols[c] == "int":
                fn = self.rng.choice(["SUM", "AVG", "MIN", "MAX"])
            elif self.cols[c] == "text":
                fn = "COUNT"
            else:
                fn = self.rng.choice(["MIN", "MAX", "COUNT"])
            aggs.append({"function": fn, "column": c, "alias": f"{fn.lower()}_{c}_{i}"})
        return aggs

    @staticmethod
    def _agg_sql(aggs: list[dict]) -> str:
        return ", ".join(f"{a['function']}({a['column']}) AS {a['alias']}" for a in aggs)

    def group(self) -> None:
        cats = self._of("cat") or self._of("int")
        keys = self.rng.sample(cats, min(len(cats), self.rng.randint(1, 2)))
        aggs = self._aggs()
        data = {"table": self.current, "groupBy": keys, "aggregations": aggs}
        sql = f"SELECT {', '.join(keys)}, {self._agg_sql(aggs)} FROM {self.current} GROUP BY {', '.join(keys)}"
        self._add("GROUP", f"Group {self.current}", data, sql)

    def aggregate(self) -> None:
        aggs = self._aggs()
        data = {"table": self.current, "aggregations": aggs}
        self._add("AGGREGATE", f"Summarize {self.current}", data, f"SELECT {self._agg_sql(aggs)} FROM {self.current}")

    def custom_final(self) -> None:
        t = self.current
        ts, cats = self._of("ts"), self._of("cat")
        ints = [c for c in self._of("int") if c in INTEGER_COLUMNS]
        if ts and self.rng.random() < 0.5:
            sql = f"SELECT strftime({ts[0]}, '%Y') AS yr, count(*) AS n FROM {t} GROUP BY ALL"
        elif ints and self.rng.random() < 0.5:
            c = self.rng.choice(ints)
            sql = f"SELECT {c} // 10 AS bucket, count(*) AS n, max({c}) AS hi FROM {t} GROUP BY ALL"
        elif cats:
            c = self.rng.choice(cats)
            sql = f"SELECT {c}, count(*) AS n, count(*) FILTER (WHERE {c} ILIKE '%a%') AS n_a FROM {t} GROUP BY ALL"
        else:
            sql = f"SELECT count(*) AS n FROM {t}"
        self._add("CUSTOM", "Custom summary", {"sql": sql}, sql)


# One flow per shape: base table, middle moves, final reducer. The seed
# draws every parameter (columns, operators, literals, join type, sort
# keys, aggregates) but not the shapes, so every seed asks the engine for
# the same kinds and amounts of work and runs stay comparable.
SHAPES = [
    ("lineitem", ["filter"], "group"),
    ("orders", ["join:o_custkey:diff", "filter"], "group"),
    ("lineitem", ["join:l_partkey:same", "filter"], "aggregate"),
    ("events", ["filter", "custom:strftime", "sort"], "custom"),
    ("orders", ["select", "union:UNION ALL"], "group"),
    ("customer", ["custom:qualify", "join:c_nationkey:diff", "sort"], "group"),
    ("lineitem", ["custom:exclude", "filter", "sort"], "aggregate"),
    ("supplier", ["union:UNION", "join:s_nationkey:same"], "custom"),
]


def generate_flow(rng: random.Random, name: str, shape) -> Flow:
    base, moves, final = shape
    b = _Builder(rng)
    b.load(base)
    for move in moves:
        kind, _, arg = move.partition(":")
        if kind == "join":
            fk, style = arg.split(":")
            b.join(fk, same_key=style == "same")
        elif kind == "union":
            b.union(arg)
        elif kind == "custom":
            b.custom(arg)
        else:
            getattr(b, kind)()
    {"group": b.group, "aggregate": b.aggregate, "custom": b.custom_final}[final]()
    ctes = ",\n".join(f"{n} AS ({sql})" for n, sql in b.ctes)
    return Flow(name=name, records=b.records, duck_sql=f"WITH {ctes}\nSELECT * FROM {b.current}")


def generate_flows(seed: int) -> list[Flow]:
    """One flow per entry of ``SHAPES``, in that order."""
    rng = random.Random(seed)
    return [generate_flow(rng, f"flow{i}", shape) for i, shape in enumerate(SHAPES)]
