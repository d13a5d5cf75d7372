"""Stage → DataFrame compiler.

The semantic contract is the SQL emitted by the reference's
``generateSQLFromStage`` (``ui/src/sqlGenerator.ts:6-124``); each branch
below re-expresses that SQL as a *lazy* DataFrame transformation so Catalyst
can fuse stages, push filters/projections to the parquet scan, and pick join
strategies (broadcast vs sort-merge) with AQE — none of which the reference
could do across its per-stage CTAS materialization boundaries.

Faithfulness notes (SURVEY.md §7.4):

* JOIN same-key-name path → ``df.join(other, on=[key], how=...)`` — key kept
  once and coalesced on outer joins, matching DuckDB ``USING`` + ``EXCLUDE``
  (ui/src/sqlGenerator.ts:20-21). Different-key-name path keeps BOTH key
  columns (ui/src/sqlGenerator.ts:23-24).
* FILTER condition chains are compiled to ONE SQL expression string without
  added parentheses, so standard SQL precedence (AND binds over OR) applies
  exactly as in the reference (ui/src/sqlGenerator.ts:45-52).
* UNION is positional (not by-name) and de-duplicates unless UNION ALL
  (ui/src/sqlGenerator.ts:28-37).
* GROUP's output = group keys + aggregations, in that order
  (ui/src/sqlGenerator.ts:68-80).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.plans.stage import Stage

Resolver = Callable[[str], DataFrame]

# DuckDB join keyword → Spark how-string (ui/src/sqlGenerator.ts:12-13).
# SEMI/ANTI are engine extensions (the reference reaches them only through
# CUSTOM SQL EXISTS/NOT EXISTS — SURVEY.md §2.4).
_JOIN_HOW = {
    "INNER": "inner",
    "LEFT": "left",
    "RIGHT": "right",
    "FULL OUTER": "full",
    "LEFT SEMI": "left_semi",
    "LEFT ANTI": "left_anti",
    "CROSS": "cross",
}


def sql_literal(value: Any) -> str:
    """Render a python value as a SQL literal.

    String values are single-quoted with ``''`` escaping, non-strings are
    emitted verbatim — the same ``typeof``-based rule as
    ui/src/sqlGenerator.ts:49,55. Lists (reachable only through our IR, the
    reference degenerates to scalar IN) become parenthesized tuples.
    """
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, str):
        escaped = value.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(sql_literal(v) for v in value) + ")"
    return repr(value)


def filter_predicate_sql(stage: Stage) -> str:
    """Compile FILTER conditions to one SQL boolean expression.

    Conditions are concatenated ``c1 op v1 AND|OR c2 op v2 ...`` with NO
    parentheses, so AND-over-OR SQL precedence applies — bug-compatible with
    ui/src/sqlGenerator.ts:45-52. Scalar IN/NOT IN values are wrapped in a
    1-tuple (DuckDB accepts ``col IN 'v'`` as the same thing).
    """
    parts: list[str] = []
    for i, cond in enumerate(stage.conditions):
        value = cond.value
        op = cond.operator.upper() if isinstance(cond.operator, str) else cond.operator
        if op in ("IN", "NOT IN") and not isinstance(value, (list, tuple)):
            value = [value]
        lit = sql_literal(value)
        prefix = f" {cond.logic or 'AND'} " if i > 0 else ""
        parts.append(f"{prefix}{cond.column} {cond.operator} {lit}")
    if not parts:
        raise ValueError("FILTER stage requires column, operator, and value, or conditions array")
    return "".join(parts)


def agg_exprs(stage: Stage) -> list:
    """Compile the aggregations array to Spark expressions.

    ``F.expr("FN(col)")`` keeps execution JVM-side and matches the SQL the
    reference emits (ui/src/sqlGenerator.ts:72-75,113-116), including
    ``COUNT(*)`` and default output names like ``sum(o_totalprice)``.
    """
    exprs = []
    for agg in stage.aggregations:
        e = F.expr(f"{agg.function}({agg.column})")
        if agg.alias:
            e = e.alias(agg.alias)
        exprs.append(e)
    return exprs


def compile_stage(
    stage: Stage,
    resolve: Resolver,
    spark: SparkSession | None = None,
    default_table: str | None = None,
) -> DataFrame:
    """Compile one stage into a lazy DataFrame.

    ``resolve(name)`` maps a table name to its DataFrame (the pipeline's
    catalog); ``default_table`` is the input-table fallback used when
    ``stage.data.table`` is absent (the ``sourceTableName`` argument of
    generateSQLFromStage).
    """
    t = stage.type
    d = stage.data

    def input_df() -> DataFrame:
        name = d.get("table") or default_table
        if not name:
            raise ValueError(f"{t} stage has no input table and no default")
        return resolve(name)

    if t == "JOIN":
        if (d.get("joinType") or "").upper() == "CROSS":
            # Engine extension: keyless Cartesian product. Catalyst plans a
            # BroadcastNestedLoopJoin when one side fits the broadcast
            # threshold — the only sane physical shape for it at scale.
            for req in ("leftTable", "rightTable"):
                if not d.get(req):
                    raise ValueError("CROSS JOIN stage requires leftTable and rightTable")
            cl, cr = resolve(d["leftTable"]), resolve(d["rightTable"])
            # Without a hint Spark plans CartesianProductExec (a full
            # shuffle-side pairing); broadcasting one side yields
            # BroadcastNestedLoopJoin — stream the big side, loop the small.
            hint = d.get("broadcast")
            if hint == "left":
                cl = F.broadcast(cl)
            elif hint == "right":
                cr = F.broadcast(cr)
            return cl.crossJoin(cr)
        multi = bool(d.get("leftKeys") and d.get("rightKeys"))
        if not multi:
            for req in ("leftTable", "rightTable", "leftKey", "rightKey"):
                if not d.get(req):
                    raise ValueError("JOIN stage requires leftTable, rightTable, leftKey, and rightKey")
        left = resolve(d["leftTable"])
        right = resolve(d["rightTable"])
        how = _JOIN_HOW.get(d.get("joinType") or "INNER", "inner")
        hint = d.get("broadcast")  # engine extension: explicit broadcast hint
        if hint == "left":
            left = F.broadcast(left)
        elif hint == "right":
            right = F.broadcast(right)
        if multi:
            # Engine extension: multi-key equi-join (the reference caps at one
            # key pair — ui/src/types.ts:20-25; multi-key only via CUSTOM).
            lks, rks = list(d["leftKeys"]), list(d["rightKeys"])
            if len(lks) != len(rks):
                raise ValueError("JOIN leftKeys and rightKeys must have equal length")
            if lks == rks:
                return left.join(right, on=lks, how=how)
            cond = None
            for lk_, rk_ in zip(lks, rks):
                c = left[lk_] == right[rk_]
                cond = c if cond is None else (cond & c)
            return left.join(right, on=cond, how=how)
        lk, rk = d["leftKey"], d["rightKey"]
        if how in ("left_semi", "left_anti"):
            # Semi/anti output = left columns only; key-name case irrelevant.
            return left.join(right, on=left[lk] == right[rk], how=how)
        if lk == rk:
            # USING(key) + EXCLUDE(r.key) path: ONE key column, the LEFT
            # side's values (ui/src/sqlGenerator.ts:20-21). NB: DuckDB's
            # `SELECT l.*, r.* EXCLUDE (k) ... USING (k)` does NOT coalesce —
            # right-only rows of RIGHT/FULL OUTER joins carry a NULL key. For
            # inner/left joins Spark's `on=[k]` is identical (and keeps the
            # plan eligible for USING-style optimizations); for right/full we
            # must emulate keep-left-key explicitly.
            if how in ("inner", "left"):
                return left.join(right, on=[lk], how=how)
            return left.join(right, on=left[lk] == right[rk], how=how).drop(right[rk])
        # ON l.lk = r.rk path: both key columns kept.
        return left.join(right, on=left[lk] == right[rk], how=how)

    if t == "UNION":
        tables = d.get("tables") or []
        if len(tables) < 2:
            raise ValueError("UNION stage requires at least 2 tables")
        dfs = [resolve(name) for name in tables]
        by_name = bool(d.get("byName"))  # engine extension; reference is positional-only
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True) if by_name else out.union(df)
        if (d.get("unionType") or "UNION") != "UNION ALL":
            out = out.distinct()
        return out

    if t == "FILTER":
        return input_df().filter(filter_predicate_sql(stage))

    if t == "GROUP":
        group_by = d.get("groupBy") or []
        if not group_by:
            raise ValueError("GROUP stage requires groupBy array")
        df = input_df()
        exprs = agg_exprs(stage)
        if exprs:
            return df.groupBy(*[F.expr(g) for g in group_by]).agg(*exprs)
        # No aggregations: SELECT g1, g2 FROM t GROUP BY g1, g2 ≡ distinct keys.
        return df.select(*[F.expr(g) for g in group_by]).distinct()

    if t == "AGGREGATE":
        exprs = agg_exprs(stage)
        if not exprs:
            raise ValueError("AGGREGATE stage requires aggregations array")
        return input_df().agg(*exprs)

    if t == "SELECT":
        columns = d.get("columns") or []
        if not columns:
            raise ValueError("SELECT stage requires columns array")
        # Columns may be bare names or expressions (reference passes them
        # verbatim into the SELECT list — ui/src/sqlGenerator.ts:87).
        return input_df().select(*[F.expr(c) for c in columns])

    if t == "SORT":
        order_by = stage.order_by
        if not order_by:
            raise ValueError("SORT stage requires orderBy array")
        cols = [
            F.expr(o.column).desc() if (o.direction or "ASC").upper() == "DESC" else F.expr(o.column).asc()
            for o in order_by
        ]
        return input_df().orderBy(*cols)

    if t == "CUSTOM":
        sql = d.get("sql")
        if not sql or not str(sql).strip():
            raise ValueError("CUSTOM stage requires sql string")
        if spark is None:
            raise ValueError("CUSTOM stage requires a SparkSession")
        from gemini_data_wrangler_spark.plans import dialect

        # The reference's planner emits DuckDB SQL (server/index.js:269);
        # rewrite its known dialect-isms so migrated flows run unchanged.
        # The shim calls the catalog-schema source only for the few
        # rewrites that need a column (COLUMNS, * REPLACE, len, slices).
        return spark.sql(
            dialect.duckdb_to_spark_sql(
                str(sql), schemas=lambda: dialect.catalog_schemas(spark)
            )
        )

    if t == "LOAD":
        # In the engine, LOAD resolves an already-registered table (the
        # pipeline's source layer does the actual reading — sources/readers).
        name = d.get("tableName") or d.get("fileName")
        if not name:
            raise ValueError("LOAD stage requires tableName or fileName")
        return resolve(name)

    # ---- extension stage types -------------------------------------------
    if t == "LIMIT":
        n = int(d.get("n", 1000))
        return input_df().limit(n)

    if t == "DISTINCT":
        columns = d.get("columns") or []
        df = input_df()
        return df.select(*columns).distinct() if columns else df.distinct()

    if t == "SETOP":
        # {setopType: INTERSECT|INTERSECT ALL|EXCEPT|EXCEPT ALL, tables: [l, r]}
        tables = d.get("tables") or []
        if len(tables) != 2:
            raise ValueError("SETOP stage requires exactly 2 tables")
        left, right = resolve(tables[0]), resolve(tables[1])
        op = (d.get("setopType") or "INTERSECT").upper()
        if op == "INTERSECT":
            return left.intersect(right)
        if op == "INTERSECT ALL":
            return left.intersectAll(right)
        if op == "EXCEPT":
            return left.subtract(right)
        if op == "EXCEPT ALL":
            return left.exceptAll(right)
        raise ValueError(f"Unknown setopType: {op}")

    if t == "GROUPING":
        # {table, mode: rollup|cube, groupBy, aggregations} — multi-level
        # aggregation in ONE shuffle pass (partial aggregation handles the
        # grouping-set expansion), vs N scans for N manual GROUP stages.
        group_by = d.get("groupBy") or []
        if not group_by:
            raise ValueError("GROUPING stage requires groupBy array")
        df = input_df()
        exprs = agg_exprs(stage)
        mode = (d.get("mode") or "rollup").lower()
        cols = [F.expr(g) for g in group_by]
        if mode == "sets":
            # {groupingSets: [["a","b"], ["a"], []]} — arbitrary grouping
            # sets, still ONE shuffle pass (Expand feeds a single partial
            # aggregation, same physical shape as rollup/cube).
            sets = d.get("groupingSets")
            if sets is None:
                raise ValueError("GROUPING mode=sets requires groupingSets array")
            grouped = df.groupingSets([[F.expr(g) for g in s] for s in sets], *cols)
        else:
            grouped = df.cube(*cols) if mode == "cube" else df.rollup(*cols)
        return grouped.agg(*exprs)

    if t == "PIVOT":
        # {table, groupBy, pivotColumn, pivotValues, aggregations}. Explicit
        # pivotValues keeps the plan static (no extra distinct-scan job) and
        # the output schema deterministic — required at scale.
        group_by = d.get("groupBy") or []
        pivot_col = d.get("pivotColumn")
        if not group_by or not pivot_col:
            raise ValueError("PIVOT stage requires groupBy and pivotColumn")
        df = input_df()
        exprs = agg_exprs(stage)
        if not exprs:
            raise ValueError("PIVOT stage requires aggregations array")
        values = d.get("pivotValues")
        pivoted = df.groupBy(*[F.expr(g) for g in group_by]).pivot(
            pivot_col, values if values else None
        )
        return pivoted.agg(*exprs)

    if t == "TOPK":
        # {table, orderBy, n} — ORDER BY + LIMIT n. Catalyst compiles this to
        # TakeOrderedAndProject: per-partition top-n heaps + a driver merge,
        # never a full sort — THE way to top-k at 100 TB.
        order_by = stage.order_by
        n = int(d.get("n", 10))
        if not order_by:
            raise ValueError("TOPK stage requires orderBy array")
        cols = [
            F.expr(o.column).desc() if (o.direction or "ASC").upper() == "DESC" else F.expr(o.column).asc()
            for o in order_by
        ]
        return input_df().orderBy(*cols).limit(n)

    if t == "SAMPLE":
        # {table, fraction, seed?, method?, keyColumn?} — Bernoulli
        # sample. method="hash" + keyColumn draws the uniform from
        # md5(seed || key) (hex folded to uint32, midpoint offset — the
        # same engine-portable idiom as privacy_dp_counts), so the SAME
        # rows are selected on every engine and every run: the
        # reproducible-sampling mode a training pipeline wants for
        # holdout splits. Default falls back to Spark's seeded RNG
        # (per-partition independent draws; no shuffle either way).
        fraction = float(d.get("fraction", 0.1))
        seed = int(d.get("seed", 42))
        if d.get("method") == "hash":
            key = d["keyColumn"]
            unif = (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(str(seed)), F.col(key).cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("double")
                + 0.5
            ) / 4294967296.0
            return input_df().filter(unif < fraction)
        return input_df().sample(fraction=fraction, seed=seed)

    if t == "WINDOW":
        from gemini_data_wrangler_spark.operators.window import compile_window_stage

        return compile_window_stage(stage, input_df())

    if t == "DEDUP":
        from gemini_data_wrangler_spark.operators.dedup import compile_dedup_stage

        return compile_dedup_stage(stage, input_df())

    if t == "TEXT":
        # {table, textColumn, idColumn, operations: [tokens|bpe_tokens|
        #  quality|language_id|fingerprint, ...]} — adds one output column
        # per operation, all pure JVM expressions.
        from gemini_data_wrangler_spark.functions import text as T

        df = input_df()
        text_col = F.col(d.get("textColumn", "text"))
        ops = d.get("operations") or ["tokens"]
        id_col = d.get("idColumn")
        cols = [F.col(id_col)] if id_col else [F.col(c) for c in df.columns]
        for op in ops:
            if op == "tokens":
                cols.append(T.token_count(text_col).alias("n_tokens"))
            elif op == "bpe_tokens":
                cols.append(T.bpe_ish_token_count(text_col).alias("n_bpe_tokens"))
            elif op == "quality":
                feats = T.quality_features(text_col)
                cols += [feats[k].alias(k) for k in ("punct_ratio", "stop_ratio", "quality_score")]
            elif op == "language_id":
                cols.append(T.language_id(text_col).alias("lang_pred"))
            elif op == "fingerprint":
                cols.append(T.doc_fingerprint(text_col).alias("fingerprint"))
            else:
                raise ValueError(f"Unknown TEXT operation: {op}")
        return df.select(*cols)

    if t == "SIMILARITY":
        # {table (embeddings), method: brute|lsh|ivf, queryIds: [..], k?,
        #  idColumn?, vectorColumn?}
        from gemini_data_wrangler_spark.operators import similarity as S

        df = input_df()
        method = (d.get("method") or "brute").lower()
        idc = d.get("idColumn", "vec_id")
        vc = d.get("vectorColumn", "embedding")
        k = int(d.get("k", 10))
        queries = S.queries_from_ids(df, list(d.get("queryIds") or []), id_col=idc, vec_col=vc)
        if method == "brute":
            return S.cosine_topk(df, queries, k=k, id_col=idc, vec_col=vc)
        if method == "lsh":
            return S.lsh_topk(df, queries, k=k, id_col=idc, vec_col=vc)
        if method == "ivf":
            return S.ivf_topk(df, queries, k=k, id_col=idc, vec_col=vc)
        raise ValueError(f"Unknown SIMILARITY method: {method}")

    if t == "STREAM":
        # {table (events), windowType: tumbling|sliding|session, window?,
        #  slide?, gap?, tsColumn?} — batch mode of the streaming builders
        # (identical semantics under Structured Streaming; see
        # streaming/events.py).
        from gemini_data_wrangler_spark.streaming import events as E

        df = input_df()
        wt = (d.get("windowType") or "tumbling").lower()
        ts = d.get("tsColumn", "ts")
        if wt == "tumbling":
            return E.tumbling_window_agg(df, d.get("window", "1 hour"), ts_col=ts)
        if wt == "sliding":
            return E.sliding_window_agg(
                df, d.get("window", "1 hour"), d.get("slide", "30 minutes"), ts_col=ts
            )
        if wt == "session":
            return E.session_agg(df, d.get("gap", "30 minutes"), ts_col=ts)
        raise ValueError(f"Unknown STREAM windowType: {wt}")

    raise ValueError(f"Unsupported stage type: {t}")
