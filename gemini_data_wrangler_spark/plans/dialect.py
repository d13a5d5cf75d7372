"""DuckDB → Spark SQL dialect shim for CUSTOM stages.

The reference instructs its planner to "Write valid DuckDB SQL"
(server/index.js:269) and its own JOIN compiler emits DuckDB-specific
syntax (``EXCLUDE`` — ui/src/sqlGenerator.ts:20-21; ``read_csv_auto`` —
ui/src/App.tsx:362-375). The CUSTOM escape hatch therefore makes the whole
DuckDB surface reachable from a migrated flow, so this shim covers the
DuckDB-isms real flows carry, not just what the reference itself emits.

Deliberately *surface-level*: each rule is a well-defined token rewrite of
a DuckDB-ism onto its exact Spark equivalent, applied outside string
literals. Anything beyond this list is already ANSI-shared between the
engines and passes through untouched. Refused constructs sit in one
pattern table, checked once on the literal-masked text.

Schemas: ``duckdb_to_spark_sql(sql, schemas=...)`` takes a lazy
``{view: StructType}`` source. The CUSTOM stage — and so every pipeline
and the CLI's ``--sql`` path, which runs as a one-stage CUSTOM pipeline —
passes ``catalog_schemas(spark)`` over the session's views. Only the rows
marked *schema* below call it; direct callers without a source get those
forms refused.

| DuckDB | Spark |
|---|---|
| ``SELECT * EXCLUDE (a, b)``        | ``SELECT * EXCEPT (a, b)`` |
| ``read_csv_auto('p', ...)``        | csv temp view (pipeline pre-registers) |
| ``read_parquet('p')``              | ``parquet.`p``` |
| ``... QUALIFY <pred>``             | wrapper subquery + WHERE on a computed ``__qualify`` column |
| ``FROM generate_series(a,b[,s])``  | ``FROM (SELECT explode(sequence(a,b[,s])) AS generate_series)`` |
| ``FROM range(a,b)``                | same, end-exclusive (``sequence(a,(b)-1)``) |
| ``generate_series(a,b)`` (scalar)  | ``sequence(a,b)`` |
| ``regexp_split_to_array(s, re)``   | ``split(s, re)`` |
| ``array_to_string(l, sep)``        | ``array_join(l, sep)`` |
| ``list_transform`` / ``list_filter`` | ``transform`` / ``filter`` |
| ``list_sum(l)``                    | null-skipping fold: ``aggregate`` with ``coalesce`` + size guard (DuckDB skips null elements, NULL for empty/all-null) |
| ``unnest(l)`` (select list)        | ``explode(l)`` (``recursive :=`` unsupported → error) |
| ``[expr FOR x IN l [IF c]]``       | ``transform(filter(l, x -> c), x -> expr)`` |
| ``[a, b, c]`` literal              | ``array(a, b, c)`` |
| ``LIST_VALUE(...)``                | ``array(...)`` |
| ``a // b``                         | ``a div b`` |
| ``strftime(ts, '%Y-%m-%d')``       | ``date_format(ts, 'yyyy-MM-dd')`` (either arg order) |
| ``list_contains/sort``             | ``array_contains/sort`` |
| ``list_distinct(l)``               | ``array_distinct(filter(l, not null))`` (DuckDB DROPS null elements; Spark keeps one) |
| ``list_reverse/list_max/list_min`` | ``reverse/array_max/array_min`` |
| ``arg_max`` / ``arg_min``          | ``max_by`` / ``min_by`` |
| ``starts_with``                    | ``startswith`` |
| ``list_has_any``                   | ``coalesce(arrays_overlap, false)`` with whole-list NULL guard (DuckDB ignores null elements — false, not NULL) |
| ``list_has_all(h, n)``             | ``forall(n, x -> array_contains(h, x))`` |
| ``regexp_matches(s, re)``          | ``s RLIKE re`` |
| ``string_split(s, sep)``           | ``split(s, regex-escaped sep)`` (literal sep only → else error) |
| ``list_aggregate(l, 'sum'/...)``   | ``list_sum``/``array_min``/``array_max``/``size`` (others → error) |
| ``epoch_us`` / ``epoch_ms``        | ``unix_micros`` / ``unix_millis`` (NTZ-cast wrapped) |
| ``quantile_cont(x, q)``            | ``percentile(x, q)`` |
| ``quantile_disc`` / ``quantile``   | type-preserving rank arithmetic: ``element_at(sort_array(collect_list(x)), max(ceil(q·count), 1))`` with NULL on empty groups (Spark's percentile_disc agrees on the index but forces DOUBLE); literal quantile LISTS unroll per element |
| ``T[]`` list-type spelling         | ``ARRAY<T>`` (innermost-first for ``T[][]``; element names map to Spark spellings, e.g. varchar→STRING, hugeint→DECIMAL(38,0)) |
| ``list_reduce(l, λ)``              | ``aggregate(slice(l, 2, …), element_at(l, 1), λ)`` (DuckDB's first-element seed replayed; empty list errors on both engines) |
| ``WITH RECURSIVE`` (UNION ALL)     | pass through (Spark ≥ 4.0 native) |
| ``WITH RECURSIVE`` (UNION)         | refused → explicit error (Spark recursion is UNION ALL-only; a distinct-dedup cyclic closure would not terminate) |
| ``GROUP BY ALL`` / ``ILIKE``       | pass through (Spark-native) |
| ``a ^ b`` (DuckDB POWER)           | refused → explicit error (Spark ``^`` is XOR) |
| ``t1 POSITIONAL JOIN t2``          | unsupported → explicit error |
| ``expr[i:j]`` slicing              | ``substring``/``slice`` dispatched on the operand's inferred kind (same inference as ``len()``; *schema* for a bare column): 1-based end-inclusive, negatives from the end, clamped, empty bounds default to the ends; unresolvable operand type → explicit error |
| ``SELECT DISTINCT ON (k) ...``     | row_number window wrapper (requires ORDER BY for determinism → else error) |
| ``USING SAMPLE n% / n ROWS``       | ``TABLESAMPLE (n PERCENT / n ROWS)`` (+ ``REPEATABLE(seed)``; reservoir/bernoulli/system methods accepted) |
| ``ASOF [LEFT] JOIN``               | correlated ``[LEFT] JOIN LATERAL (... ORDER BY <ineq operand> LIMIT 1)`` keeping the right alias (projections untouched); operator-level as-of (operators/temporal.py) remains the tuned path |
| ``PIVOT t ON c IN (...) USING agg``| SQL-standard ``PIVOT`` clause (IN list required; dynamic column discovery refused) |
| ``UNPIVOT t ON ... INTO NAME/VALUE`` | SQL-standard ``UNPIVOT`` clause |
| ``COLUMNS('re')`` / ``COLUMNS(*)`` | explicit column list of the single FROM table (*schema*; refused without a source) |
| ``string_agg(x[, sep][ORDER BY o])`` | ``listagg(x, sep) [WITHIN GROUP (ORDER BY o)]`` |
| ``date_diff('part', a, b)``        | boundary-exact arithmetic per part (DuckDB counts boundaries crossed, not complete intervals; 'week' refused; sub-day units pin DuckDB v1.0.0's trunc-toward-zero epoch division, incl. pre-epoch) |
| ``strpos(s, sub)``                 | ``instr(s, sub)`` |
| ``CAST(x AS VARCHAR)`` (bare)      | ``CAST(x AS STRING)`` |
| ``j -> 'k'`` / ``j ->> 'k'``       | ``to_json(variant_get(parse_json(j), '$.k'))`` / ``get_json_object(j, '$.k')`` (ints index arrays; lambda arrows inside HOFs untouched) |
| ``json_extract[_string](j, p)``    | same targets as the arrow forms (literal single path only) |
| ``{'k': v}`` / ``MAP {'k': v}``    | ``named_struct('k', v)`` / ``map('k', v)`` (innermost-first) |
| ``SELECT * REPLACE (e AS c)``      | explicit column list with ``e AS c`` substituted (*schema*; refused without a source) |
| ``len(x)``                         | ``length(x)`` / ``size(x)`` dispatched on the inferred kind (literal shape, leading function, CAST target, or — *schema* — a bare column's type; a name whose type differs across views is undecidable); undecidable → explicit error |
| ``regexp_replace(s, p, r[, opts])``| global (``'g'``): 3-arg Spark call, ``i``/``s``/``m`` fold into ``(?flags)``, literal replacements convert RE2 rewrite syntax (``\\k``, literal ``$``) to Java (``$k``, ``\\$``); first-match (no ``'g'``): anchored ``^((?s).*?)(p)`` wrapper + ``$1``-prefixed replacement with group refs shifted by 2 (needs a literal replacement → else error) |
| ``date_part('dow'/'isodow'/'epoch', x)`` | ``dayofweek(x)-1`` / ``weekday(x)+1`` / fractional epoch seconds (numbering diverges); shared fields pass through, ``datepart`` renamed |
| ``epoch(ts)``                      | ``unix_micros(cast(ts as timestamp)) / 1e6`` |
| ``x SIMILAR TO 'p'``               | ``x RLIKE '^(?:p)$'`` (DuckDB anchors the full string; ``%`` is a literal) |
| ``list_slice(l, a, b)``            | ``slice`` with normalized absolute bounds (1-based end-inclusive, negatives from end, clamped; step form refused) |
| ``list_unique(l)``                 | ``size(array_distinct(filter(l, not null)))`` (it COUNTS, not dedups) |
| ``list_concat(a, b)``              | NULL-as-empty ``concat`` via CASE |
| ``array_pop_back/front(l)``        | ``slice(l, 1|2, greatest(size(l) - 1, 0))`` (empty stays empty, NULL stays NULL) |
| ``struct_pack(k := v)``            | ``named_struct('k', v)`` |
| ``list_/array_cosine_similarity`` etc. | exact double HOF expansions (dot, norms, L2) |
| ``time_bucket(INTERVAL 'n u', ts)``| origin-anchored epoch/month arithmetic (origins 2000-01-03 / 2000-01-01; pmod keeps floor pre-origin; origin/offset args refused) |
| ``editdist3``/``prefix``/``suffix``| ``levenshtein``/``startswith``/``endswith`` |
| ``list_position``/``list_indexof`` | ``array_position`` (both 0-when-absent) |
| ``ORDER BY ALL`` / ``TRY_CAST``    | pass through (Spark-native) |
| ``lag(x IGNORE NULLS)`` etc.       | ``lag(x) IGNORE NULLS`` (modifier moves outside the call) |
| ``FROM [t,] unnest(l) AS z(u)``    | ``[LATERAL] explode(l) AS z(u)`` (comma/JOIN → LATERAL; leading item → TVF) |
| ``x[i]`` subscript                 | ``try_element_at(x, i)`` (DuckDB is 1-based/NULL-OOB/negative-from-end; Spark ``[]`` is 0-based — silent off-by-one otherwise). String-literal keys (``m['k']``) stay subscripts |
| ``extract(dow/isodow/epoch FROM x)`` | renumbered arithmetic (same spelling, shifted values in Spark) |
| ``dayofweek``/``weekday``/``isodow``/``dayname``/``monthname`` | ``dayofweek(x)-1`` / same / ``weekday(x)+1`` / ``date_format`` full names (DuckDB: 0=Sunday & full names; Spark: 1=Sunday, 0=MONDAY, 3-letter names) |
| ``list/array_agg(x [ORDER BY ...])`` | NULL-KEEPING struct collect (DuckDB keeps null elements; Spark collect_list/set drop them), ``array_sort``-ed when sorted by itself ascending; arbitrary multi-key ``ORDER BY k1 DESC, k2 ...`` → comparator-sorted struct collect + ``transform`` strip (DuckDB default ASC NULLS LAST replayed; DISTINCT → ``array_distinct``) |
| ``first/last(x ORDER BY ...)``     | ``element_at(<comparator-sorted struct collect>, 1 / -1)`` (orderless forms pass through) |
| ``concat(a, b, ...)``              | null-SKIPPING concat: each arg → ``coalesce(cast(.. as string), '')`` (DuckDB skips NULL args; Spark propagates NULL) |
| ``substr/substring(s, st, n)``     | DuckDB's character-window closed form when st/n aren't plain positive literals (start 0 consumes budget, negative length swings the window backwards); 2-arg forms agree and pass through |
| ``left/right(s, -n)``              | drop n chars from the opposite end (Spark returns ``''`` for negative n) |
| ``a / b`` / ``a % b``              | ``try_divide`` / ``try_mod`` over the full multiplicative chain (DuckDB yields NULL on zero divisors — even DOUBLE ones; Spark's ANSI default raises DIVIDE_BY_ZERO); precedence preserved left-associatively |
| ``any_value(x)``                   | ``any_value(x, true)`` (DuckDB's picks the first NON-NULL; Spark's default respects nulls) |
| ``FILTER (cond)``                  | ``FILTER (WHERE cond)`` (DuckDB accepts the WHERE-less spelling; the higher-order ``filter`` fn is untouched) |
| ``corr(x, y)``                     | ``try_divide(covar_pop, sd·sd)`` recomposition with pairwise null deletion (zero variance: DuckDB NULL, Spark ANSI raises) |
| ``round(DOUBLE, n)``               | pass through — KNOWN divergence once abs(x)·10^n exceeds 2^53: DuckDB rounds via scaled-double arithmetic (last-ulp drift), Spark via exact BigDecimal |
| ``CAST(x AS INT/BIGINT/...)`` / ``x::INT`` | DuckDB ROUNDS numeric→int casts (3.7::INT = 4), Spark truncates → a foldable ``typeof`` CASE dispatches DOUBLE/FLOAT sources to ``bround`` (half-even = DuckDB's rint) and everything else through ``round(cast(.. as decimal(38, 9)))`` (half-away) — exact for BIGINTs, boolean/string-safe, loud exactly where DuckDB is loud; TRY_CAST gets try_ twins |
| ``group_concat`` / ``week``        | ``string_agg`` path / ``weekofyear`` |
| ``product()``                      | refused → explicit error (no zero/negative-safe Spark equivalent) |
| ``ORDER BY x`` (bare/ASC keys)     | ``ORDER BY x NULLS LAST`` everywhere (statement, OVER, WITHIN GROUP): DuckDB defaults nulls-last, Spark ascending defaults nulls-FIRST — silent row flips under LIMIT; DESC agrees and is untouched |
| ``log(x)``                         | ``log10(x)`` (DuckDB log10 vs Spark ln; two-arg log(base, x) agrees) |
| ``regexp_extract(s, p)``           | ``regexp_extract(s, p, 0)`` (DuckDB whole match vs Spark group 1) |
| ``ltrim/rtrim(s, chars)``          | ``trim(LEADING/TRAILING chars FROM s)`` (Spark's two-arg form has REVERSED arguments) |
| ``trunc(x)`` numeric               | toward-zero floor/ceil CASE (Spark trunc is date-only) |
| ``split``/``str_split(s, sep)``    | literal-separator split (regex-escaped sep — Spark's ``split`` takes a REGEX; ``split(s, '.')`` would silently explode per char) |
| ``str_split_regex(s, re)``         | ``split(s, re)`` |
| ``regexp_extract_all(s, p)``       | ``regexp_extract_all(s, p, 0)`` (DuckDB whole match vs Spark group 1) |
| ``x ~ 'p'`` / ``x !~ 'p'``         | ``x [NOT] RLIKE '^(?:p)$'`` (DuckDB ``~`` is a FULL regex match; literal pattern only) |
| ``x ~~ 'p'`` / ``x !~~ 'p'``       | ``x [NOT] LIKE 'p'`` |
| ``regexp_full_match(s, 'p')``      | ``s RLIKE '^(?:p)$'`` (literal pattern only → else error) |
| ``strptime(s, '%d/%m/%Y')``        | ``to_timestamp(s, 'dd/MM/yyyy')`` (same %-map as strftime) |
| ``to_timestamp(x)`` (1-arg)        | ``timestamp_seconds(x)`` (DuckDB's to_timestamp is epoch-seconds-only; fractional seconds kept) |
| ``date_add(d, INTERVAL ...)``      | ``cast(d + INTERVAL ... as timestamp)`` (DuckDB date_add always returns TIMESTAMP; Spark has no interval overload) |
| ``date_sub('part', a, b)``         | COMPLETE elapsed units (≠ date_diff's boundary counting): fixed-width parts → ``timestampdiff``; month/quarter/year → exact add_months closed form (Spark's timestampdiff misses DuckDB's month-end clamp credit, e.g. May 31 → Jun 30 = 1 complete month) |
| ``datetrunc`` / ``today()``        | ``date_trunc`` / ``current_date()`` |
| ``isoyear(x)``                     | ``extract(YEAROFWEEK FROM x)`` |
| ``isfinite``/``isinf``             | isnan/±Infinity comparison expansions (NULL-propagating, NaN-correct) |
| ``hash(x)``                        | refused → explicit error (DuckDB's 64-bit internal hash vs Spark's 32-bit Murmur3 — values diverge silently) |
| ``FROM t [SELECT ...]``            | pass through (Spark ≥ 4.0 parses FROM-first statements natively) |
| ``RANGE BETWEEN INTERVAL ...``     | pass through (Spark accepts interval RANGE frames over date/timestamp order keys; same inclusive bounds) |
| ``UNION [ALL] BY NAME``            | refused → explicit error (no Spark SQL spelling; alignment needs both subquery schemas) |
| ``flatten(ll)``                    | NULL-sublist-skipping ``flatten(filter(...))`` (DuckDB skips NULL sublists; Spark nulls the result) |
| ``trim(s, chars)``                 | ``trim(BOTH chars FROM s)`` (Spark's 2-arg trim has REVERSED arguments — same flip as ltrim/rtrim) |
| ``skewness`` / ``kurtosis``        | bias-corrected closed forms over Spark's population stats (g1·√(n(n−1))/(n−2); (n−1)/((n−2)(n−3))·((n+1)g2+6)); ``kurtosis_pop`` → ``kurtosis`` |
| ``date_trunc('day'+ coarser, x)``  | ``cast(date_trunc(...) as date)`` (DuckDB returns DATE at day+ granularity; Spark always TIMESTAMP) |
| ``ends_with/strlen/to_hex/from_hex/round_even/json_keys`` | ``endswith/octet_length/hex/unhex/bround/json_object_keys`` |
| ``sha256(x)``                      | ``sha2(x, 256)`` |
| ``unicode(s)``                     | ``ascii`` with DuckDB's −1-on-empty edge |
| ``xor(a, b)``                      | ``a ^ b`` (Spark's caret IS xor; the input-side POWER refusal still stands) |
| ``even(x)``                        | away-from-zero round to even: ``sign·ceil(abs·0.5)·2`` as DOUBLE |
| ``fdiv/fmod(a, b)``                | FLOORED division/modulus closed forms as DOUBLE, NULL on zero divisors |
| ``make_timestamp(micros)`` (1-arg) | ``timestamp_micros(micros)`` |
| ``yearweek/century/decade/millennium`` | ISO-year·100+week / integer year arithmetic (CE years) |
| ``microsecond/millisecond(ts)``    | seconds-inclusive sub-minute parts from ``extract(SECOND ...)`` (DuckDB counts 3.456789 s as 3456789 µs) |
| ``json_valid(j)``                  | ``try_parse_json(j) IS NOT NULL`` (accepts any top-level JSON value, NULL in → NULL out) |
| ``hamming/mismatches(a, b)``       | positional mismatch count via sequence+filter; DuckDB's empty/unequal-length ERRORS reproduced with ``assert_true`` |
| ``jaccard(a, b)``                  | character-set Jaccard via ``array_intersect``/``array_union`` over distinct chars |
| ``list_zip(l1, .., ln)``           | ``transform(sequence(...), i -> named_struct('list_1', try_element_at(l1, i), ...))`` — longest-input padding, DuckDB field names, NULL list = empty |
| ``list_sort(l, dir[, nulls])``     | filtered ``array_sort`` ± ``reverse`` with nulls concat-placed per modifiers (literals only) |
| ``list_element/list_extract/array_extract`` | ``try_element_at`` (1-based, NULL OOB, negative from end, 0 → NULL) |
| ``list_count/list_avg/list_median/list_any_value/list_first/list_last`` | null-skipping HOF folds (median: interpolating, DOUBLE; DECIMAL lists keep DuckDB's scale → documented divergence) |
| ``fsum/favg``                      | ``sum/avg`` over DOUBLE (Kahan compensation below the 6-decimal compare) |
| ``geomean(x)``                     | ``exp(avg(ln(x)))`` — exact on DuckDB's accepted positive domain; x ≤ 0 errors there, drops out of the mean here |
| ``entropy/mad/damerau_levenshtein/jaro[_winkler]_similarity/age/format/gamma/lgamma/nextafter/signbit/timezone_hour`` | refused → explicit error (no faithful single-pass Spark expansion) |
| ``a ** b``                         | ``power(a, b)`` — left-assoc, tighter than ``*``, looser than unary minus (all DuckDB-exact) |
| ``x op ANY/ALL/SOME(array)``       | ``exists/forall(array, e -> x op e)`` — identical three-valued logic; subquery operands refused (no Spark spelling) |
| ``ord``                            | folded into the ``unicode`` rewrite |
| ``to_base(x, b[, len])``           | ``conv(x, 10, b)`` + zero-pad; negatives ERROR in both (conv's two's-complement would silently diverge) |
| ``from_base64`` / 1-arg ``encode/decode`` | ``unbase64`` / UTF-8 charset made explicit |
| ``to_days/hours/minutes/seconds/weeks/ms/us(n)`` | ``make_dt_interval`` slots (DATE + dt-interval → TIMESTAMP, as DuckDB) |
| ``to_years/months(n)``             | ``make_ym_interval`` (KNOWN type flip: DuckDB DATE + interval → TIMESTAMP, Spark DATE + ym-interval stays DATE; values equal) |
| ``current_localtimestamp()``       | ``localtimestamp()`` |
| ``list_resize(l, n[, fill])``      | truncate/pad via ``transform(sequence(...))`` |
| ``list_select(l, idxs)``           | 1-based gather (0/neg/OOB → NULL element, NULL index errors — both engines) |
| ``list_where(l, mask)``            | mask-length-bounded filter (NULL mask element errors) |
| ``list_grade_up(l)``               | stable 1-based argsort (nulls last) via comparator ``array_sort`` over (value, index) structs |
| ``list_reverse_sort(l)``           | DESC nulls-last composition (same kernel as ``list_sort(l, 'DESC')``) |
| ``approx_quantile``                | ``approx_percentile`` — APPROXIMATE: engine sketches differ (same contract as approx_count_distinct) |
| ``regexp_escape(s)``               | RE2 QuoteMeta reproduction: backslash every ASCII non-word char via a runtime-built ``regexp_replace`` (chr()-spelled, literal-escaping-proof) |
| ``BLOB/BYTEA/VARBINARY``           | ``BINARY`` |
| ``array_unique``                   | folded into the ``list_unique`` rewrite |
| ``strip_accents/nfc_normalize/left_grapheme/right_grapheme/histogram/bitstring_agg/gcd/lcm/parse_path family`` | refused → explicit error |
| ``TABLESAMPLE reservoir(10%)`` etc. | folded into the USING SAMPLE → ``TABLESAMPLE (n PERCENT/ROWS)`` rewrite (Spark's own spelling passes through) |
| frame ``EXCLUDE NO OTHERS``        | dropped (it is the default); ``EXCLUDE CURRENT ROW/GROUP/TIES`` refused (no Spark spelling) |
| ``arbitrary(x)``                   | ``any_value(x, true)`` (first NON-NULL) |
| ``agg(x ORDER BY ...)`` commutative | ORDER BY stripped for sum/avg/count/min/max/bool_*/bit_* (value-identical; Spark rejects the syntax) |
| ``PRAGMA/SET/COPY/ATTACH/...``     | refused → explicit error (administrative statements; config belongs in the session builder) |
| ``array_*`` alias spellings        | folded into the matching ``list_*`` rewrites (sort/zip/select/where/resize/grade_up/reverse_sort/prepend/distinct/has_any/has_all/concat/aggr/transform/filter/apply/indexof/reverse/pack/reduce); DuckDB's null-dropping ``array_distinct`` vs Spark's null-keeping same-name native was a silent flip |
| ``typeof(x)``                      | scalar type names mapped to DuckDB's spellings (int→INTEGER, string→VARCHAR, binary→BLOB, timestamp_ntz→TIMESTAMP, void→"NULL", else upper()); nested types stay Spark-spelled |
| ``array_to_json/row_to_json``      | ``to_json`` |
| ``md5_number[_lower]``             | refused → explicit error (unsigned 128/64-bit results) |
| bare ``NULL`` literal list args    | short-circuit to NULL (or ``array()`` where DuckDB says empty) — Spark cannot analysis-resolve HOFs over untyped NULL |
| ``SUMMARIZE t``                    | refused → explicit error (DuckDB statement; point at the engine's column-profile operator) |
"""

from __future__ import annotations

import functools
import re
from typing import Callable

# EXCLUDE after a star-select: DuckDB `* EXCLUDE (c1, c2)` or `r.* EXCLUDE (c)`
_EXCLUDE_RE = re.compile(r"(\*\s*)EXCLUDE(\s*\()", re.IGNORECASE)
_READ_CSV_RE = re.compile(r"read_csv_auto\s*\(\s*'([^']+)'[^)]*\)", re.IGNORECASE)
_READ_PARQUET_RE = re.compile(r"read_parquet\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE)
_LIST_VALUE_RE = re.compile(r"\bLIST_VALUE\s*\(", re.IGNORECASE)

_STR_RE = re.compile(r"'(?:[^']|'')*'")
_PLACEHOLDER_RE = re.compile(r"\x00(\d+)\x00")


def _literal_index(arg: str) -> int | None:
    """Index into ``literals`` when ``arg`` is exactly one masked string
    literal, else None."""
    m = _PLACEHOLDER_RE.fullmatch(arg)
    return int(m.group(1)) if m else None


def _mask_strings(sql: str) -> tuple[str, list[str]]:
    """Replace string literals with indexed placeholders so token rewrites
    can't touch quoted content."""
    literals: list[str] = []

    def keep(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    return _STR_RE.sub(keep, sql), literals


def _unmask_strings(sql: str, literals: list[str]) -> str:
    """Restore literals, doubling backslashes: DuckDB string literals are
    escape-free (``'\\s+'`` is backslash-s-plus) while Spark's parser
    processes C-style escapes — an unescaped ``\\s`` would silently become
    ``s`` and corrupt every migrated regex."""
    return _PLACEHOLDER_RE.sub(
        lambda m: literals[int(m.group(1))].replace("\\", "\\\\"), sql
    )


def _find_matching(sql: str, start: int, open_ch: str, close_ch: str) -> int:
    """Index of the bracket matching ``sql[start]`` (which must be
    ``open_ch``), or -1."""
    depth = 0
    for i in range(start, len(sql)):
        if sql[i] == open_ch:
            depth += 1
        elif sql[i] == close_ch:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on a separator at bracket depth 0."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


# ---------------------------------------------------------------------------
# QUALIFY
# ---------------------------------------------------------------------------
_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_TRAILER_RE = re.compile(r"\b(ORDER\s+BY|LIMIT)\b", re.IGNORECASE)


def _top_level_matches(sql: str, pattern: re.Pattern) -> list[re.Match]:
    out = []
    for m in pattern.finditer(sql):
        depth = sql.count("(", 0, m.start()) - sql.count(")", 0, m.start())
        if depth == 0:
            out.append(m)
    return out


def _rewrite_qualify(sql: str) -> str:
    """``SELECT ... QUALIFY pred [ORDER BY ...] [LIMIT n]`` →

    ``SELECT * EXCEPT (__qualify) FROM (SELECT ..., (pred) AS __qualify)
    WHERE __qualify [ORDER BY ...] [LIMIT n]``

    Window functions in ``pred`` evaluate over the inner SELECT's result —
    exactly DuckDB's QUALIFY semantics. Limitation (documented): ``pred``
    must reference columns present in the SELECT's output (true for the
    standard ``QUALIFY row_number() OVER (...) <= n`` shape).
    """
    matches = _top_level_matches(sql, _QUALIFY_RE)
    if not matches:
        return sql
    m = matches[-1]
    head, rest = sql[: m.start()].rstrip(), sql[m.end() :]
    trailer = ""
    t_matches = _top_level_matches(rest, _TRAILER_RE)
    if t_matches:
        trailer = rest[t_matches[0].start() :].rstrip()
        rest = rest[: t_matches[0].start()]
    pred = rest.strip().rstrip(";")
    # Inject the predicate as a computed column over the original query:
    # wrap head, add (pred) AS __qualify via a SELECT *-extension.
    return (
        f"SELECT * EXCEPT (__qualify) FROM "
        f"(SELECT *, ({pred}) AS __qualify FROM ({head})) WHERE __qualify"
        + (f" {trailer}" if trailer else "")
    )


# ---------------------------------------------------------------------------
# DISTINCT ON
# ---------------------------------------------------------------------------
_DISTINCT_ON_RE = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_LIMIT_RE = re.compile(r"\bLIMIT\b", re.IGNORECASE)


def _rewrite_distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (k...) proj FROM ... ORDER BY o... [LIMIT n]`` →

    ``SELECT proj FROM (SELECT *, row_number() OVER (PARTITION BY k...
    ORDER BY o...) AS __don FROM ...) WHERE __don = 1 [ORDER BY o...]
    [LIMIT n]``

    DuckDB keeps the FIRST row of each key group under the query's ORDER
    BY — exactly a row_number = 1 filter. Without an ORDER BY the DuckDB
    result is nondeterministic, so the rewrite refuses instead of baking
    in an arbitrary row. The outer ORDER BY re-sorts the survivors (its
    columns resolve against the subquery's ``SELECT *``), preserving the
    row SET under a trailing LIMIT."""
    m = _DISTINCT_ON_RE.search(sql)
    if m is None:
        return sql
    open_idx = sql.index("(", m.start())
    close_idx = _find_matching(sql, open_idx, "(", ")")
    keys = sql[open_idx + 1 : close_idx].strip()
    rest = sql[close_idx + 1 :]
    fm = _top_level_matches(rest, _FROM_RE)
    if not fm:
        return sql
    proj = rest[: fm[0].start()].strip()
    body = rest[fm[0].start() :]
    om = _top_level_matches(body, _ORDER_BY_RE)
    if not om:
        raise ValueError(
            "DISTINCT ON without ORDER BY is nondeterministic in DuckDB; "
            "add an ORDER BY (keys first, then the tie-break) so the "
            "row_number rewrite picks a defined row"
        )
    order_tail = body[om[-1].end() :]
    body_wo_order = body[: om[-1].start()].rstrip()
    lm = _top_level_matches(order_tail, _LIMIT_RE)
    limit_clause = ""
    if lm:
        limit_clause = " " + order_tail[lm[0].start() :].strip().rstrip(";")
        order_tail = order_tail[: lm[0].start()]
    order_exprs = order_tail.strip().rstrip(";")
    return (
        f"SELECT {proj} FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY {order_exprs}) AS __don "
        f"{body_wo_order}) WHERE __don = 1 "
        f"ORDER BY {order_exprs}{limit_clause}"
    )


# ---------------------------------------------------------------------------
# USING SAMPLE → TABLESAMPLE
# ---------------------------------------------------------------------------
_USING_SAMPLE_RE = re.compile(
    r"\b(?:USING\s+SAMPLE|TABLESAMPLE)\s+"
    r"(?:(?P<method>reservoir|bernoulli|system)\s*\(\s*)?"
    r"(?P<num>\d+(?:\.\d+)?)\s*"
    r"(?P<unit>%|PERCENT|ROWS)?\s*"
    r"(?(method)\))"
    r"(?:\s*REPEATABLE\s*\(\s*(?P<seed>\d+)\s*\))?",
    re.IGNORECASE,
)


def _rewrite_using_sample(sql: str) -> str:
    """DuckDB ``USING SAMPLE 10%`` / ``USING SAMPLE reservoir(100 ROWS)``
    → Spark ``TABLESAMPLE (10 PERCENT)`` / ``TABLESAMPLE (100 ROWS)``,
    carrying ``REPEATABLE(seed)``. Caveat (documented, not silent): the
    ROWS form is an exact-count sample in both engines but Spark takes
    the first n rows of the scan rather than a uniform reservoir — use
    the PERCENT form (Bernoulli in both) when uniformity matters."""

    def sub(m: re.Match) -> str:
        unit = (m.group("unit") or "%").upper()
        spec = (
            f"{m.group('num')} ROWS"
            if unit == "ROWS"
            else f"{m.group('num')} PERCENT"
        )
        out = f"TABLESAMPLE ({spec})"
        if m.group("seed"):
            out += f" REPEATABLE ({m.group('seed')})"
        return out

    return _USING_SAMPLE_RE.sub(sub, sql)


_ASOF_RE = re.compile(r"\bASOF\s+(?:LEFT\s+)?JOIN\b", re.IGNORECASE)
# DuckDB administrative statements a migrated flow might carry verbatim.
_DUCK_STATEMENT_RE = re.compile(
    r"\s*(PRAGMA|SET|RESET|INSTALL|LOAD|ATTACH|DETACH|COPY|EXPORT|"
    r"IMPORT|CALL|CHECKPOINT|VACUUM|BEGIN|COMMIT|ROLLBACK)\b",
    re.IGNORECASE,
)


# ---------------------------------------------------------------------------
# generate_series / range as FROM-position table functions
# ---------------------------------------------------------------------------
_FROM_SERIES_RE = re.compile(
    r"\b(FROM|JOIN)\s+(generate_series|range)\s*\(", re.IGNORECASE
)
_SERIES_ALIAS_RE = re.compile(
    r"^\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*(\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?",
    re.IGNORECASE,
)
_KEYWORD_STOP = {
    "where", "group", "order", "limit", "qualify", "having", "union", "inner",
    "left", "right", "full", "cross", "join", "on", "using", "as", "select",
}


def _rewrite_from_series(sql: str) -> str:
    while True:
        m = _FROM_SERIES_RE.search(sql)
        if not m:
            return sql
        kw, fn = m.group(1), m.group(2).lower()
        open_idx = sql.index("(", m.end(2))
        close_idx = _find_matching(sql, open_idx, "(", ")")
        if close_idx < 0:
            return sql
        args = _split_top_level(sql[open_idx + 1 : close_idx])
        if fn == "range":  # DuckDB range is end-exclusive; sequence inclusive
            args = [args[0], f"({args[1].strip()}) - 1"] + args[2:]
        seq = f"sequence({', '.join(a.strip() for a in args)})"
        # Optional alias (with optional column rename): t, AS t, t(i), AS t(i)
        tail = sql[close_idx + 1 :]
        col, alias_sql, consumed = fn, "", 0
        am = _SERIES_ALIAS_RE.match(tail)
        if am and am.group(1).lower() not in _KEYWORD_STOP:
            alias_sql = f" {am.group(1)}"
            if am.group(3):
                col = am.group(3)
            consumed = am.end()
        replacement = f"{kw} (SELECT explode({seq}) AS {col}){alias_sql}"
        sql = sql[: m.start()] + replacement + tail[consumed:]


# ---------------------------------------------------------------------------
# List comprehensions and bracket list literals
# ---------------------------------------------------------------------------
_NOT_SUBSCRIPT_WORDS = {
    "in", "select", "from", "where", "and", "or", "not", "then", "else",
    "when", "on", "using", "by", "as", "case", "end", "join", "having",
    "union", "all", "distinct", "between", "like", "ilike", "is", "return",
    "returns", "if", "coalesce", "values",
}


def _is_subscript(sql: str, idx: int) -> bool:
    """A ``[`` directly after an identifier / ``)`` / ``]`` is a subscript,
    not a list literal — unless that "identifier" is a SQL keyword
    (``... for y in [1, 2]``, ``WHEN [..]``), which introduces a value
    position."""
    j = idx - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0 or not (sql[j].isalnum() or sql[j] in "_)]\x00"):
        return False
    if sql[j].isalnum() or sql[j] == "_":
        end = j + 1
        while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
            j -= 1
        if sql[j + 1 : end].lower() in _NOT_SUBSCRIPT_WORDS:
            return False
    return True


def _comprehension_split(body: str):
    """Match ``expr for var in src [if cond]`` with the ``for``/``in``/``if``
    keywords at bracket depth 0."""
    lowered = body.lower()
    depth = 0
    marks = {}
    i = 0
    while i < len(lowered):
        ch = lowered[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and (i == 0 or not (lowered[i - 1].isalnum() or lowered[i - 1] == "_")):
            for kw in ("for", "in", "if"):
                end = i + len(kw)
                if (
                    lowered.startswith(kw, i)
                    and (end >= len(lowered) or not (lowered[end].isalnum() or lowered[end] == "_"))
                ):
                    if kw == "for" and "for" not in marks:
                        marks["for"] = i
                    elif kw == "in" and "for" in marks and "in" not in marks:
                        marks["in"] = i
                    elif kw == "if" and "in" in marks and "if" not in marks:
                        marks["if"] = i
        i += 1
    if "for" not in marks or "in" not in marks:
        return None
    expr = body[: marks["for"]].strip()
    var = body[marks["for"] + 3 : marks["in"]].strip()
    src_end = marks.get("if", len(body))
    src = body[marks["in"] + 2 : src_end].strip()
    cond = body[marks["if"] + 2 :].strip() if "if" in marks else None
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", var):
        return None
    return expr, var, src, cond


def _rewrite_brackets(sql: str) -> str:
    """Innermost-first rewrite of ``[...]`` groups: comprehension →
    transform/filter; plain literal → array(...); subscripts untouched."""
    while True:
        # Find an innermost bracket group that isn't a subscript.
        target = -1
        for i, ch in enumerate(sql):
            if ch == "[" and not _is_subscript(sql, i):
                close = _find_matching(sql, i, "[", "]")
                if close < 0:
                    return sql
                if "[" in sql[i + 1 : close]:
                    inner = sql.index("[", i + 1)
                    if not _is_subscript(sql, inner):
                        continue  # recurse via scan order: skip to inner pass
                target = i
                break
        if target < 0:
            return sql
        close = _find_matching(sql, target, "[", "]")
        body = sql[target + 1 : close]
        comp = _comprehension_split(body)
        if comp:
            expr, var, src, cond = comp
            if cond:
                repl = f"transform(filter({src}, {var} -> {cond}), {var} -> {expr})"
            else:
                repl = f"transform({src}, {var} -> {expr})"
        else:
            repl = f"array({body})"
        sql = sql[:target] + repl + sql[close + 1 :]


# ---------------------------------------------------------------------------
# Simple function-name mappings
# ---------------------------------------------------------------------------
_FN_RENAMES = [
    (re.compile(r"\bregexp_split_to_array\s*\(", re.IGNORECASE), "split("),
    (re.compile(r"\barray_to_string\s*\(", re.IGNORECASE), "array_join("),
    (re.compile(r"\b(?:list|array)_transform\s*\(", re.IGNORECASE), "transform("),
    (re.compile(r"\b(?:list|array)_filter\s*\(", re.IGNORECASE), "filter("),
    (re.compile(r"\b(?:list_|array_)?apply\s*\(", re.IGNORECASE), "transform("),
    (re.compile(r"\barray_indexof\s*\(", re.IGNORECASE), "array_position("),
    (re.compile(r"\blist_pack\s*\(", re.IGNORECASE), "array("),
    (re.compile(r"\barray_reverse\s*\(", re.IGNORECASE), "reverse("),
    (re.compile(r"\blist_contains\s*\(", re.IGNORECASE), "array_contains("),
    # list_distinct handled by a dedicated rewrite (DuckDB drops NULLs).
    (re.compile(r"\b(?:list|array)_sort\s*\(", re.IGNORECASE), "array_sort("),
    (re.compile(r"\bunnest\s*\(", re.IGNORECASE), "explode("),
    (re.compile(r"\barg_max\s*\(", re.IGNORECASE), "max_by("),
    (re.compile(r"\barg_min\s*\(", re.IGNORECASE), "min_by("),
    # Same (expr, fraction) argument order; both linearly interpolate.
    (re.compile(r"\bquantile_cont\s*\(", re.IGNORECASE), "percentile("),
    (re.compile(r"\blist_reverse\s*\(", re.IGNORECASE), "reverse("),
    (re.compile(r"\blist_max\s*\(", re.IGNORECASE), "array_max("),
    (re.compile(r"\blist_min\s*\(", re.IGNORECASE), "array_min("),
    # Same argument order and prefix-match semantics.
    (re.compile(r"\bstarts_with\s*\(", re.IGNORECASE), "startswith("),
    # 1-based position of substring, identical argument order.
    (re.compile(r"\bstrpos\s*\(", re.IGNORECASE), "instr("),
    # list_has_any handled by a dedicated rewrite (null-element handling).
    # Same (list, element) argument order. (list_prepend's order is
    # REVERSED vs array_prepend and handled by a two-arg swap rewrite.)
    (re.compile(r"\blist_append\s*\(", re.IGNORECASE), "array_append("),
    # Levenshtein alias (same cost model: unit insert/delete/substitute).
    (re.compile(r"\beditdist3\s*\(", re.IGNORECASE), "levenshtein("),
    # Boolean prefix/suffix tests, same argument order.
    (re.compile(r"\bprefix\s*\(", re.IGNORECASE), "startswith("),
    (re.compile(r"\bsuffix\s*\(", re.IGNORECASE), "endswith("),
    # Both return the 1-based first position, 0 when absent.
    (re.compile(r"\blist_position\s*\(", re.IGNORECASE), "array_position("),
    (re.compile(r"\blist_indexof\s*\(", re.IGNORECASE), "array_position("),
    (re.compile(r"\barray_length\s*\(", re.IGNORECASE), "size("),
    # Shared extract fields (dow/isodow/epoch already special-cased).
    (re.compile(r"\bdatepart\s*\(", re.IGNORECASE), "date_part("),
    # Regex-separator split: Spark's split IS the regex form.
    (re.compile(r"\bstr_split_regex\s*\(", re.IGNORECASE), "split("),
    (re.compile(r"\bdatetrunc\s*\(", re.IGNORECASE), "date_trunc("),
    (re.compile(r"\btoday\s*\(", re.IGNORECASE), "current_date("),
]
_LIST_REDUCE_RE = re.compile(r"\b(?:list|array)_reduce\s*\(", re.IGNORECASE)
_RECURSIVE_RE = re.compile(r"\bWITH\s+RECURSIVE\b", re.IGNORECASE)
_UNION_ALL_RE = re.compile(r"\bUNION\s+ALL\b", re.IGNORECASE)
# DuckDB `//` is integer division; Spark's infix equivalent is `div`.
_INTDIV_RE = re.compile(r"//")
# strftime(ts, 'fmt') → date_format(ts, 'translated fmt')
_STRFTIME_RE = re.compile(r"\bstrftime\s*\(", re.IGNORECASE)
_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"),
    ("%j", "DDD"), ("%a", "EEE"), ("%A", "EEEE"), ("%b", "MMM"),
    ("%B", "MMMM"), ("%I", "hh"), ("%p", "a"), ("%%", "%"),
]


def _translate_strftime_format(lit: str) -> str:
    """Translate a %-style strftime pattern literal to Spark's
    SimpleDateFormat-style pattern."""
    out = lit
    for duck, spark in _STRFTIME_MAP:
        out = out.replace(duck, spark)
    return out
_LIST_SUM_RE = re.compile(r"\blist_sum\s*\(", re.IGNORECASE)
_SCALAR_SERIES_RE = re.compile(r"\bgenerate_series\s*\(", re.IGNORECASE)


def _rewrite_strftime(masked: str, literals: list[str]) -> str:
    """``strftime(ts, '%Y-%m-%d')`` (either argument order) →
    ``date_format(ts, 'yyyy-MM-dd')``. Runs on the masked text: the format
    literal is a placeholder, so the translation edits the literals table
    and commas inside strings can't confuse the arg split."""

    def build(m, a):
        if len(a) != 2:
            return None
        ts_arg, fmt_arg = a if _literal_index(a[1]) is not None else a[::-1]
        idx = _literal_index(fmt_arg)
        if idx is None:
            return None
        literals[idx] = "'" + _translate_strftime_format(literals[idx].strip("'")) + "'"
        return f"date_format({ts_arg}, {fmt_arg})"

    return _rewrite_call(masked, _STRFTIME_RE, build)


_LIST_HAS_ALL_RE = re.compile(r"\b(?:list|array)_has_all\s*\(", re.IGNORECASE)
_REGEXP_MATCHES_RE = re.compile(r"\bregexp_matches\s*\(", re.IGNORECASE)
# string_split and its aliases split on a LITERAL separator (Spark's split
# takes a regex). `\b` keeps these off str_split_regex/regexp_split_to_array.
_STRING_SPLIT_RE = re.compile(
    r"\b(?:string_split|string_to_array|str_split|split)\s*\(", re.IGNORECASE
)
_LIST_AGGREGATE_RE = re.compile(r"\b(?:list|array)_agg(?:regate|r)\s*\(", re.IGNORECASE)
_EPOCH_RE = re.compile(r"\bepoch_(us|ms)\s*\(", re.IGNORECASE)
_REGEX_METACHARS = r"\.^$*+?()[]{}|"


def _rewrite_string_split(masked: str, literals: list[str]) -> str:
    """``string_split(s, sep)`` (and the ``string_to_array``/``split``/
    ``str_split`` aliases) splits on a LITERAL separator; Spark's ``split``
    takes a regex — so the separator literal is regex-escaped in the
    literals table. A non-literal separator is refused (its runtime value
    would be interpreted as a regex, silently changing semantics)."""

    def build(m, args):
        if len(args) != 2:
            return None
        idx = _literal_index(args[1])
        if idx is None:
            raise ValueError(
                "split/string_split with a non-literal separator cannot be "
                "translated (Spark's split interprets the separator as a "
                "regex); inline the separator as a string literal"
            )
        body = literals[idx][1:-1]
        escaped = "".join(
            ("\\" + ch) if ch in _REGEX_METACHARS else ch for ch in body
        )
        literals[idx] = f"'{escaped}'"
        return f"split\x01({args[0]}, {args[1]})"

    return _rewrite_call(masked, _STRING_SPLIT_RE, build)


_LIST_AGG_MAP = {
    "sum": "list_sum({l})",  # re-handled by the list_sum fold rewrite below
    "min": "array_min({l})",
    "max": "array_max({l})",
    "count": "size({l})",
}


def _rewrite_list_aggregate(masked: str, literals: list[str]) -> str:
    def build(m, args):
        if len(args) != 2:
            return None
        idx = _literal_index(args[1])
        name = literals[idx][1:-1].lower() if idx is not None else None
        if name not in _LIST_AGG_MAP:
            raise ValueError(
                f"list_aggregate(..., {name!r}) has no verified Spark "
                "mapping (only sum/min/max/count are translated); rewrite "
                "with an explicit aggregate(...) fold"
            )
        return _LIST_AGG_MAP[name].format(l=args[0])

    return _rewrite_call(masked, _LIST_AGGREGATE_RE, build)


_STRING_AGG_RE = re.compile(r"\bstring_agg\s*\(", re.IGNORECASE)
_ORDER_IN_ARG_RE = re.compile(r"\s+ORDER\s+BY\s+", re.IGNORECASE)


def _rewrite_string_agg(sql: str) -> str:
    """``string_agg(x[, sep][ ORDER BY o])`` → ``listagg(x, sep)
    [WITHIN GROUP (ORDER BY o)]``. DuckDB's default separator is ','."""

    def build(m, args):
        if not 1 <= len(args) <= 2:
            return None
        order = None
        om = _ORDER_IN_ARG_RE.search(args[-1])
        if om:
            order = args[-1][om.end() :].strip()
            args[-1] = args[-1][: om.start()].strip()
            if not args[-1]:
                args.pop()
        sep = args[1] if len(args) == 2 else "','"
        repl = f"listagg({args[0]}, {sep})"
        if order:
            repl += f" WITHIN GROUP (ORDER BY {order})"
        return repl

    return _rewrite_call(sql, _STRING_AGG_RE, build)


_DATE_DIFF_RE = re.compile(r"\bdate_?diff\s*\(", re.IGNORECASE)
_BARE_VARCHAR_RE = re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE)
_BARE_BLOB_RE = re.compile(r"\b(?:BLOB|BYTEA|VARBINARY)\b", re.IGNORECASE)

# DuckDB's date_diff counts PART BOUNDARIES crossed, which differs from
# Spark's timestampdiff (complete intervals). Each unit maps to the exact
# boundary arithmetic instead; 'week' boundaries have no clean Spark
# counterpart and are refused.
#
# Sub-day units divide epoch micros with Spark's `div` (truncation toward
# zero). For post-1970 timestamps this equals boundary counting; ACROSS
# the epoch trunc(-0.5h)=0 merges the two hours straddling 1970-01-01
# 00:00 into one bucket. That is ALSO exactly what DuckDB v1.0.0 (the
# oracle engine) computes — empirically pinned in the
# `date_diff_pre_epoch_sub_day` bank entry (tests/test_dialect_bank.py)
# across hour/minute/second, pre-epoch and epoch-straddling — so `div` is
# deliberate; a floor-division "fix" here would DIVERGE from the oracle.
# Epoch-micros boundaries coincide with wall-clock part boundaries
# because the session timezone is pinned UTC (see `session.get_spark`); a
# non-UTC session with a fractional-hour offset would need
# wall-clock-derived boundaries instead.
_DATE_DIFF_TEMPLATES = {
    "day": "datediff(cast({b} as date), cast({a} as date))",
    "month": "((year({b}) * 12 + month({b})) - (year({a}) * 12 + month({a})))",
    "year": "(year({b}) - year({a}))",
    "quarter": "((year({b}) * 4 + quarter({b})) - (year({a}) * 4 + quarter({a})))",
    "hour": "(unix_micros(cast({b} as timestamp)) div 3600000000"
    " - unix_micros(cast({a} as timestamp)) div 3600000000)",
    "minute": "(unix_micros(cast({b} as timestamp)) div 60000000"
    " - unix_micros(cast({a} as timestamp)) div 60000000)",
    "second": "(unix_micros(cast({b} as timestamp)) div 1000000"
    " - unix_micros(cast({a} as timestamp)) div 1000000)",
}


def _rewrite_date_diff(masked: str, literals: list[str]) -> str:
    """3-arg ``date_diff('part', a, b)`` → boundary-exact Spark arithmetic
    (DuckDB counts boundaries crossed, NOT complete intervals — Spark's
    timestampdiff would silently disagree at month ends). 2-arg datediff
    (already Spark-compatible) is left untouched."""

    def build(m, args):
        if len(args) != 3:
            return None
        idx = _literal_index(args[0])
        if idx is None:
            raise ValueError(
                "date_diff with a non-literal part cannot be translated; "
                "inline the part as a string literal"
            )
        unit = literals[idx][1:-1].lower().rstrip("s")
        tmpl = _DATE_DIFF_TEMPLATES.get(unit)
        if tmpl is None:
            raise ValueError(
                f"date_diff({unit!r}, ...) boundary semantics have no exact "
                "Spark counterpart (DuckDB counts part boundaries crossed); "
                "supported parts: " + ", ".join(sorted(_DATE_DIFF_TEMPLATES))
            )
        # Plain replace, not str.format: argument expressions may contain
        # braces (e.g. a struct literal) that .format would choke on.
        return tmpl.replace("{a}", args[1]).replace("{b}", args[2])

    return _rewrite_call(masked, _DATE_DIFF_RE, build)


def _rewrite_list_sum(sql: str) -> str:
    # DuckDB list_sum SKIPS null elements (list_sum([1, NULL, 3]) = 4) but
    # yields NULL for empty / all-null / NULL input — the size-guard
    # reproduces that; coalesce keeps the fold null-safe.
    return _rewrite_call(
        sql,
        _LIST_SUM_RE,
        lambda m, a: (
            f"(CASE WHEN size(filter({a[0]}, _ls -> _ls IS NOT NULL)) = 0 "
            f"THEN NULL ELSE aggregate({a[0]}, cast(0.0 as double), "
            f"(acc, x) -> acc + coalesce(x, cast(0.0 as double))) END)"
            if len(a) == 1
            else None
        ),
    )


_ASOF_TERMINATOR_RE = re.compile(
    r"\b(WHERE|GROUP|ORDER|LIMIT|QUALIFY|HAVING|WINDOW|UNION|INTERSECT|"
    r"EXCEPT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ASOF|POSITIONAL|ANTI|SEMI)\b",
    re.IGNORECASE,
)
_INEQ_RE = re.compile(r"(<=|>=|<|>)")
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def _scan_on_condition(masked: str, start: int) -> int:
    """End index (exclusive) of a join's ON condition starting at
    ``start``: the first top-level clause keyword, unbalanced ')', or
    end of string."""
    depth = 0
    i = start
    while i < len(masked):
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0:
            m = _ASOF_TERMINATOR_RE.match(masked, i)
            if m and (i == 0 or not masked[i - 1].isalnum() and masked[i - 1] != "_"):
                return i
        i += 1
    return len(masked)


def _rewrite_asof(masked: str) -> str:
    """``A ASOF [LEFT] JOIN B b ON a.k = b.k AND a.ts >= b.ts`` → a
    correlated LATERAL subquery: per left row, the right rows satisfying
    the full ON condition, ordered by the right-side inequality operand
    toward the as-of boundary, LIMIT 1 — exactly DuckDB's nearest-match
    semantics, with the right alias preserved so projections need no
    rewriting. Spark plans the lateral as a join + per-key ranking; for
    operator-level use the engine's native as-of (operators/temporal.py)
    is the tuned path."""
    while True:
        m = _ASOF_RE.search(masked)
        if not m:
            return masked
        is_left = re.search(r"\bLEFT\b", m.group(0), re.IGNORECASE) is not None
        # --- right-hand table expression + alias ----------------------
        i = m.end()
        while i < len(masked) and masked[i].isspace():
            i += 1
        if i < len(masked) and masked[i] == "(":
            close = _find_matching(masked, i, "(", ")")
            if close < 0:
                raise ValueError("ASOF JOIN: unbalanced right-side subquery")
            rhs = masked[i : close + 1]
            i = close + 1
        else:
            mm = _IDENT_RE.match(masked, i)
            if not mm:
                raise ValueError("ASOF JOIN: cannot parse right-side table")
            rhs = mm.group(0)
            i = mm.end()
            while i < len(masked) and masked[i] == ".":
                mm = _IDENT_RE.match(masked, i + 1)
                if not mm:
                    break
                rhs += "." + mm.group(0)
                i = mm.end()
        # optional alias
        j = i
        while j < len(masked) and masked[j].isspace():
            j += 1
        alias = rhs.split(".")[-1]
        mm = _IDENT_RE.match(masked, j)
        if mm and mm.group(0).upper() == "AS":
            j = mm.end()
            while j < len(masked) and masked[j].isspace():
                j += 1
            mm = _IDENT_RE.match(masked, j)
        if mm and mm.group(0).upper() != "ON":
            alias = mm.group(0)
            j = mm.end()
        while j < len(masked) and masked[j].isspace():
            j += 1
        mm = _IDENT_RE.match(masked, j)
        if not mm or mm.group(0).upper() != "ON":
            raise ValueError("ASOF JOIN requires an explicit ON condition")
        cond_start = mm.end()
        cond_end = _scan_on_condition(masked, cond_start)
        cond = masked[cond_start:cond_end].strip()
        # --- find the single inequality, derive the sort direction ----
        terms = re.split(r"\bAND\b", cond, flags=re.IGNORECASE)
        ineqs = [t for t in terms if _INEQ_RE.search(t) and "=" != _INEQ_RE.search(t).group(0)]
        if len(ineqs) != 1:
            raise ValueError(
                "ASOF JOIN needs exactly one inequality in ON; found "
                f"{len(ineqs)}"
            )
        im = _INEQ_RE.search(ineqs[0])
        op = im.group(0)
        lhs_expr = ineqs[0][: im.start()].strip()
        rhs_expr = ineqs[0][im.end() :].strip()
        prefix = re.compile(rf"^\s*{re.escape(alias)}\s*\.", re.IGNORECASE)
        if prefix.match(rhs_expr):
            right_operand, bounded_above = rhs_expr, op in (">=", ">")
        elif prefix.match(lhs_expr):
            right_operand, bounded_above = lhs_expr, op in ("<=", "<")
        else:
            raise ValueError(
                "ASOF JOIN: the inequality must reference the right "
                f"table's alias ({alias!r}) on one side"
            )
        direction = "DESC" if bounded_above else "ASC"
        # --- assemble the lateral -------------------------------------
        inner_alias = f"_asof_{alias}"
        sub = re.sub(
            rf"\b{re.escape(alias)}\s*\.", f"{inner_alias}.", cond, flags=re.IGNORECASE
        )
        key = re.sub(
            rf"\b{re.escape(alias)}\s*\.",
            f"{inner_alias}.",
            right_operand,
            flags=re.IGNORECASE,
        )
        lateral = (
            f"SELECT * FROM {rhs} {inner_alias} WHERE {sub} "
            f"ORDER BY {key} {direction} LIMIT 1"
        )
        if is_left:
            repl = f"LEFT JOIN LATERAL ({lateral}) {alias} ON true"
        else:
            repl = f"JOIN LATERAL ({lateral}) {alias}"
        masked = masked[: m.start()] + repl + masked[cond_end:]


_PIVOT_STMT_RE = re.compile(r"^\s*PIVOT\s+", re.IGNORECASE)
_UNPIVOT_STMT_RE = re.compile(r"^\s*UNPIVOT\s+", re.IGNORECASE)
_AGG_CALL_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z_0-9]*)\s*\(", re.IGNORECASE)
_COLUMNS_RE = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)


def _rewrite_pivot_stmt(masked: str) -> str:
    """DuckDB's simplified-PIVOT statement
    ``PIVOT t ON col IN (v1, ...) USING agg(expr) [GROUP BY g, ...]`` →
    the SQL-standard PIVOT clause Spark parses natively. The IN list is
    required: DuckDB's dynamic column discovery scans the data, which no
    static translation can reproduce. (Standard-form ``FROM t PIVOT
    (...)`` passes through untouched — Spark supports it directly.)"""
    while True:
        m = _PIVOT_STMT_RE.search(masked)
        if not m:
            return masked
        rest0 = masked[m.end() :]
        table, off = _parse_table_expr(rest0)
        rest = rest0[off:]
        sm = re.match(
            r"\s*ON\s+(.*?)\s+USING\s+(.*?)"
            r"(?:\s+GROUP\s+BY\s+(.*?))?\s*(;|$)",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if not sm:
            raise ValueError(
                "PIVOT statement: only the simplified form "
                "'PIVOT t ON col IN (...) USING agg(expr) [GROUP BY ...]' "
                "is translatable"
            )
        on_part, using, group = sm.group(1), sm.group(2), sm.group(3)
        im = re.match(r"(.*?)\s+IN\s*\((.*)\)\s*$", on_part, re.IGNORECASE | re.DOTALL)
        if not im:
            raise ValueError(
                "PIVOT ON without an IN (...) value list discovers columns "
                "from the data (DuckDB-dynamic); enumerate the values "
                "explicitly for a static Spark translation"
            )
        col, vals = im.group(1).strip(), im.group(2).strip()
        am = _AGG_CALL_RE.match(using)
        if not am:
            raise ValueError("PIVOT USING must be a single aggregate call")
        fn = am.group(1)
        open_idx = using.index("(", am.start())
        close_idx = _find_matching(using, open_idx, "(", ")")
        arg = using[open_idx + 1 : close_idx].strip()
        if group:
            keys = ", ".join(g.strip() for g in group.split(","))
            src = f"(SELECT {keys}, {col}, {arg} AS _pivot_arg FROM {table})"
            pivot = f"SELECT * FROM {src} PIVOT ({fn}(_pivot_arg) FOR {col} IN ({vals}))"
        else:
            pivot = f"SELECT * FROM {table} PIVOT ({fn}({arg}) FOR {col} IN ({vals}))"
        masked = (
            masked[: m.start()]
            + pivot
            + rest[sm.end(3) if sm.group(3) else sm.end(2) :]
        )
        return masked


def _parse_table_expr(text: str) -> tuple[str, int]:
    """Leading table expression of ``text``: a (qualified) identifier or a
    parenthesized subquery. Returns (expression, end index)."""
    i = 0
    while i < len(text) and text[i].isspace():
        i += 1
    if i < len(text) and text[i] == "(":
        close = _find_matching(text, i, "(", ")")
        if close < 0:
            raise ValueError("unbalanced parenthesis in table expression")
        return text[i : close + 1], close + 1
    mm = re.match(r"[A-Za-z_][A-Za-z_0-9.]*", text[i:])
    if not mm:
        raise ValueError("cannot parse table expression")
    return mm.group(0), i + mm.end()


def _rewrite_unpivot_stmt(masked: str) -> str:
    """DuckDB's simplified-UNPIVOT statement
    ``UNPIVOT t ON c1, c2 INTO NAME n VALUE v`` → the SQL-standard
    UNPIVOT clause (both engines exclude NULL values by default). The
    source may be a table name or a parenthesized subquery."""
    while True:
        m = _UNPIVOT_STMT_RE.search(masked)
        if not m:
            return masked
        rest = masked[m.end() :]
        table, off = _parse_table_expr(rest)
        sm = re.match(
            r"\s*ON\s+(.*?)\s+INTO\s+NAME\s+"
            r"([A-Za-z_][A-Za-z_0-9]*)\s+VALUE\s+([A-Za-z_][A-Za-z_0-9]*)",
            rest[off:],
            re.IGNORECASE | re.DOTALL,
        )
        if not sm:
            raise ValueError(
                "UNPIVOT statement: only the simplified form "
                "'UNPIVOT t ON c1, c2, ... INTO NAME n VALUE v' is "
                "translatable"
            )
        cols, name, value = sm.group(1).strip(), sm.group(2), sm.group(3)
        masked = (
            masked[: m.start()]
            + f"SELECT * FROM {table} UNPIVOT ({value} FOR {name} IN ({cols}))"
            + rest[off + sm.end() :]
        )
        return masked


class _Schemas:
    """The caller's ``{view: StructType}`` source, called at most once and
    only when a rewrite needs a column: ``COLUMNS(...)``, ``* REPLACE``,
    and ``len()`` or ``[i:j]`` over a bare column name."""

    def __init__(self, source: Callable[[], dict] | None) -> None:
        self.source = source

    @functools.cached_property
    def views(self) -> dict:
        return self.source() if self.source is not None else {}

    def columns(self, view: str | None) -> list[str] | None:
        schema = self.views.get(view) if view else None
        return schema.fieldNames() if schema is not None else None

    @functools.cached_property
    def kinds(self) -> dict[str, str]:
        """Lowercase column name → 'string' | 'array' | 'other' over every
        view; a name whose kinds disagree across views is 'conflict'
        (undecidable)."""
        kinds: dict[str, str] = {}
        for schema in self.views.values():
            for f in schema.fields:
                tn = f.dataType.typeName()
                kind = "string" if tn == "string" else "array" if tn in ("array", "map") else "other"
                prev = kinds.get(f.name.lower())
                kinds[f.name.lower()] = kind if prev in (None, kind) else "conflict"
        return kinds


def catalog_schemas(spark) -> dict:
    """``{view: StructType}`` for every table and temp view in the
    session's catalog — the schema source a CUSTOM stage passes."""
    return {t.name: spark.table(t.name).schema for t in spark.catalog.listTables()}


_FROM_TABLE_RE = re.compile(r"\bFROM\s+([A-Za-z_][A-Za-z_0-9]*)", re.IGNORECASE)


def _from_table(masked: str, start: int, close: int) -> str | None:
    """Table named by the first ``FROM <table>`` after ``close`` at the
    bracket depth of ``start`` (the projection's own SELECT)."""

    def depth(i: int) -> int:
        return masked.count("(", 0, i) - masked.count(")", 0, i)

    for cand in _FROM_TABLE_RE.finditer(masked[close:]):
        if depth(close + cand.start()) == depth(start):
            return cand.group(1)
    return None


def _rewrite_columns_projection(
    masked: str, literals: list[str], schemas: _Schemas
) -> str:
    """``COLUMNS('regex')`` / ``COLUMNS(*)`` → an explicit column list.

    Schema-dependent by nature: requires a ``schemas`` source (the CUSTOM
    stage supplies the session catalog's, so pipelines and the CLI
    ``--sql`` path have it) and a plain single-table FROM at the same
    nesting depth; refused otherwise, with the workaround spelled out."""
    while True:
        m = _COLUMNS_RE.search(masked)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close_idx = _find_matching(masked, open_idx, "(", ")")
        inner = masked[open_idx + 1 : close_idx].strip()
        if schemas.source is None:
            raise ValueError(
                "COLUMNS(...) projection needs the table schema; run "
                "through the CLI/pipeline (which supplies loaded-table "
                "schemas), or list the columns explicitly"
            )
        cols = schemas.columns(_from_table(masked, m.start(), close_idx))
        if cols is None:
            raise ValueError(
                "COLUMNS(...) could not be resolved: FROM is not a single "
                "known table; list the columns explicitly"
            )
        if inner == "*":
            chosen = list(cols)
        else:
            idx = _literal_index(inner)
            if idx is None:
                raise ValueError(
                    "COLUMNS(...) supports '*' or a regex string literal"
                )
            pat = re.compile(literals[idx][1:-1])
            chosen = [c for c in cols if pat.search(c)]
        if not chosen:
            raise ValueError("COLUMNS(...) matched no columns")
        masked = masked[: m.start()] + ", ".join(chosen) + masked[close_idx + 1 :]


_STRUCT_KEY_RE = re.compile(r"^\s*\x00(\d+)\x00\s*:(?!:)")
_MAP_KW_RE = re.compile(r"\bMAP\s*$", re.IGNORECASE)


def _rewrite_struct_literals(masked: str) -> str:
    """DuckDB struct literals ``{'k': v, ...}`` → ``named_struct('k', v,
    ...)``; ``MAP {'k': v}`` → ``map('k', v, ...)``. Innermost-first so
    nested struct values are already rewritten when the outer literal is
    assembled. Field access (``s.k``) is shared syntax and passes through.
    Keys must be string literals (DuckDB's only struct-literal key form).
    """
    while True:
        open_idx = None
        for i, ch in enumerate(masked):
            if ch == "{":
                open_idx = i  # keep scanning: the LAST '{' before a '}' is innermost
            elif ch == "}" and open_idx is not None:
                break
        else:
            return masked
        close = _find_matching(masked, open_idx, "{", "}")
        if close < 0:
            raise ValueError("unbalanced '{' in struct literal")
        body = masked[open_idx + 1 : close]
        pairs = []
        for item in _split_top_level(body):
            km = _STRUCT_KEY_RE.match(item)
            if not km:
                raise ValueError(
                    "struct literal keys must be string literals "
                    "('{'key': value}'); computed keys have no Spark "
                    "named_struct translation"
                )
            pairs.append((f"\x00{km.group(1)}\x00", item[km.end() :].strip()))
        args = ", ".join(f"{k}, {v}" for k, v in pairs)
        pre = masked[:open_idx]
        mm = _MAP_KW_RE.search(pre)
        if mm:
            masked = pre[: mm.start()] + f"map({args})" + masked[close + 1 :]
        else:
            masked = pre + f"named_struct({args})" + masked[close + 1 :]


_ARROW_RE = re.compile(r"->>|->")
# Functions whose second argument is a lambda: a bare-identifier `x -> body`
# inside these is DuckDB lambda syntax, not JSON extraction.
_LAMBDA_FNS = {
    "transform", "filter", "aggregate", "reduce", "forall", "exists",
    "zip_with", "map_filter", "transform_keys", "transform_values",
    "list_transform", "list_filter", "array_sort", "list_sort",
}


def _arrow_left_operand(masked: str, end: int) -> int:
    """Start index of the expression ending (exclusive) at ``end``: a
    placeholder, (qualified) identifier, or call/paren/subscript chain."""
    i = end
    while i > 0 and masked[i - 1].isspace():
        i -= 1
    end = i
    while i > 0:
        ch = masked[i - 1]
        if ch in ")]":
            j = _find_matching_back(masked, i - 1)
            if j < 0:
                return end  # unbalanced; treat as no operand
            i = j
        elif ch == "\x00":
            j = masked.rfind("\x00", 0, i - 1)
            if j < 0:
                return end
            i = j
        elif ch.isalnum() or ch in "_.":
            i -= 1
        else:
            break
    return i


def _enclosing_call_name(masked: str, pos: int) -> str | None:
    """Name of the innermost function call containing ``pos``, if any."""
    depth = 0
    for i in range(pos - 1, -1, -1):
        ch = masked[i]
        if ch == ")":
            depth += 1
        elif ch == "(":
            if depth == 0:
                m = re.search(r"([A-Za-z_][A-Za-z_0-9]*)\s*$", masked[:i])
                return m.group(1).lower() if m else None
            depth -= 1
    return None


def _rewrite_json_arrows(masked: str, literals: list[str]) -> str:
    """DuckDB JSON extraction operators over string/JSON columns:

    * ``j ->> 'k'``  → ``get_json_object(j, '$.k')`` (both unquote string
      scalars and emit JSON text for nested objects);
    * ``j -> 'k'``   → ``to_json(variant_get(parse_json(j), '$.k'))``
      (both KEEP JSON form: string scalars stay quoted, objects stay
      JSON — pinned against DuckDB in the parity bank);
    * integer operands index arrays 0-based in both engines → ``'$[i]'``.

    Chains rewrite left-to-right, each result becoming the next left
    operand. A ``->`` whose left side is a bare identifier inside a known
    lambda-taking function is DuckDB lambda syntax and is left alone."""
    pos = 0
    while True:
        m = _ARROW_RE.search(masked, pos)
        if not m:
            return masked
        op = m.group(0)
        # right operand: string-literal placeholder or integer literal
        rm = re.match(r"\s*(\x00(\d+)\x00|\d+)", masked[m.end() :])
        if not rm:
            pos = m.end()
            continue
        left_start = _arrow_left_operand(masked, m.start())
        left = masked[left_start : m.start()].strip()
        if not left:
            pos = m.end()
            continue
        if op == "->" and re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", left):
            fn = _enclosing_call_name(masked, m.start())
            if fn in _LAMBDA_FNS:
                pos = m.end()  # lambda parameter, not JSON extraction
                continue
        if rm.group(2) is not None:
            key = literals[int(rm.group(2))][1:-1]
            path = key if key.startswith("$") else "$." + key
        else:
            path = f"$[{rm.group(1)}]"
        literals.append(f"'{path}'")
        ph = f"\x00{len(literals) - 1}\x00"
        if op == "->>":
            repl = f"get_json_object({left}, {ph})"
        else:
            repl = f"to_json(variant_get(parse_json({left}), {ph}))"
        masked = (
            masked[:left_start] + repl + masked[m.end() + rm.end() :]
        )
        pos = left_start  # re-scan from here: chains fold left-to-right


_JSON_EXTRACT_RE = re.compile(r"\bjson_extract\s*\(", re.IGNORECASE)
_JSON_EXTRACT_STRING_RE = re.compile(
    r"\bjson_extract_string\s*\(", re.IGNORECASE
)


def _rewrite_json_extract(masked: str, literals: list[str]) -> str:
    """Function spellings of the arrow operators, same target forms.
    Paths must be string literals ('k' or '$.k.j'); DuckDB's list-of-paths
    form is refused."""

    def norm_path(arg: str) -> str | None:
        idx = _literal_index(arg)
        if idx is None:
            raise ValueError(
                "json_extract with a non-literal or list path cannot be "
                "translated; inline a single string path literal"
            )
        body = literals[idx][1:-1]
        if not body.startswith("$"):
            literals[idx] = f"'$.{body}'"
        return arg

    masked = _rewrite_call(
        masked,
        _JSON_EXTRACT_STRING_RE,
        lambda m, a: (
            f"get_json_object({a[0]}, {norm_path(a[1])})" if len(a) == 2 else None
        ),
    )
    return _rewrite_call(
        masked,
        _JSON_EXTRACT_RE,
        lambda m, a: (
            f"to_json(variant_get(parse_json({a[0]}), {norm_path(a[1])}))"
            if len(a) == 2
            else None
        ),
    )


_STAR_REPLACE_RE = re.compile(r"\*\s*REPLACE\s*\(", re.IGNORECASE)


def _rewrite_star_replace(masked: str, schemas: _Schemas) -> str:
    """``SELECT * REPLACE (expr AS col, ...) FROM t`` → the explicit
    column list with ``expr AS col`` substituted in place. Schema-
    dependent like COLUMNS(...): requires a ``schemas`` source and a
    single-table FROM at the same nesting depth."""
    while True:
        m = _STAR_REPLACE_RE.search(masked)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            raise ValueError("unbalanced parenthesis in * REPLACE (...)")
        if schemas.source is None:
            raise ValueError(
                "* REPLACE (...) needs the table schema; run through the "
                "CLI/pipeline (which supplies loaded-table schemas), or "
                "list the columns explicitly"
            )
        repls = {}
        for item in _split_top_level(masked[open_idx + 1 : close]):
            am = re.match(r"(.*)\s+AS\s+([A-Za-z_][A-Za-z_0-9]*)\s*$", item.strip(), re.IGNORECASE | re.DOTALL)
            if not am:
                raise ValueError(
                    "* REPLACE items must be 'expr AS column_name'"
                )
            repls[am.group(2).lower()] = am.group(1).strip()
        cols = schemas.columns(_from_table(masked, m.start(), close))
        if cols is None:
            raise ValueError(
                "* REPLACE could not be resolved: FROM is not a single "
                "known table; list the columns explicitly"
            )
        unknown = set(repls) - {c.lower() for c in cols}
        if unknown:
            raise ValueError(
                f"* REPLACE names columns not in the table: {sorted(unknown)}"
            )
        parts = [
            f"{repls[c.lower()]} AS {c}" if c.lower() in repls else c
            for c in cols
        ]
        masked = masked[: m.start()] + ", ".join(parts) + masked[close + 1 :]


_LEN_RE = re.compile(r"\blen\s*\(", re.IGNORECASE)
_LIST_PREPEND_RE = re.compile(r"\b(?:list|array)_prepend\s*\(", re.IGNORECASE)
_LIST_POP_RE = re.compile(
    r"\b(?:list|array)_pop_(?:back|front)\s*\(", re.IGNORECASE
)

# len() dispatch support: DuckDB's len() is type-overloaded over strings
# AND lists; Spark splits the surface into length()/size(). The kind of
# the argument is inferred from literal shape, the leading function name,
# a CAST target, or — for a bare column name — its type in the caller's
# schema source (the same hand-off as COLUMNS expansion).
_LEN_STRING_FNS = frozenset(
    """concat concat_ws substr substring trim ltrim rtrim btrim upper lower
    ucase lcase replace translate repeat left right lpad rpad format printf
    format_string md5 regexp_extract initcap chr base64 hex to_hex
    string_agg listagg array_to_string strftime to_json json_extract_string
    get_json_object split_part typeof""".split()
)
_LEN_ARRAY_FNS = frozenset(
    """split string_split str_split str_split_regex string_to_array
    regexp_split_to_array regexp_extract_all array list_value transform
    list_transform filter list_filter array_distinct list_distinct
    array_sort list_sort list_reverse_sort sort_array sequence
    generate_series range flatten slice list_slice array_concat list_concat
    array_append list_append array_prepend list_prepend array_remove
    map_keys map_values collect_list collect_set array_agg shuffle
    array_repeat array_union array_intersect array_except list_zip
    arrays_zip""".split()
)
_LEN_IDENT_RE = re.compile(r"^(?:[A-Za-z_][A-Za-z_0-9]*\.)*([A-Za-z_][A-Za-z_0-9]*)$")
_LEN_LEADING_FN_RE = re.compile(r"^([A-Za-z_][A-Za-z_0-9]*)\s*\(")
_CAST_TARGET_RE = re.compile(r"\bas\s+([A-Za-z_]+)\s*(?:\(\s*\d+\s*\))?\s*$", re.IGNORECASE)


def _len_kind(arg: str, schemas: _Schemas) -> str | None:
    """'string' | 'array' | None (undecidable) for a len() argument."""
    a = arg.strip()
    if _literal_index(a) is not None:
        return "string"
    if a.startswith("["):
        return "array"
    if a.startswith("(") and _find_matching(a, 0, "(", ")") == len(a) - 1:
        inner = a[1:-1].strip()
        # top-level || is string (or list) concat: dispatch on the first
        # operand's kind ('s' || x is a string, l || x is a list)
        parts = _split_top_level(inner, "|")
        if len(parts) > 1 and inner.count("||"):
            # _split_top_level splits on single chars; re-split on '||'
            depth = 0
            for i in range(len(inner) - 1):
                if inner[i] in "([":
                    depth += 1
                elif inner[i] in ")]":
                    depth -= 1
                elif depth == 0 and inner[i : i + 2] == "||":
                    return _len_kind(inner[:i], schemas)
        return _len_kind(inner, schemas)
    m = _LEN_LEADING_FN_RE.match(a)
    if m and _find_matching(a, a.index("("), "(", ")") == len(a) - 1:
        fn = m.group(1).lower()
        if fn == "cast":
            tm = _CAST_TARGET_RE.search(a[: len(a) - 1])
            if tm and tm.group(1).lower() in ("varchar", "string", "text", "char", "bpchar"):
                return "string"
            return None
        if fn in _LEN_STRING_FNS:
            return "string"
        if fn in _LEN_ARRAY_FNS:
            return "array"
        return None
    im = _LEN_IDENT_RE.match(a)
    if im:
        kind = schemas.kinds.get(im.group(1).lower())
        return kind if kind in ("string", "array") else None
    return None


def _rewrite_len(masked: str, schemas: _Schemas) -> str:
    def build(m, args):
        if len(args) != 1:
            return None
        kind = _len_kind(args[0], schemas)
        if kind == "string":
            return f"length({args[0]})"
        if kind == "array":
            return f"size({args[0]})"
        raise ValueError(
            "len() is type-overloaded in DuckDB (strings AND lists) and the "
            "argument's type could not be resolved from the expression or "
            "the supplied schema; write length() for strings or size() for "
            "arrays"
        )

    return _rewrite_call(masked, _LEN_RE, build)


_QUANTILE_DISC_CALL_RE = re.compile(
    r"\b(?:quantile_disc|quantile)\s*\(", re.IGNORECASE
)


def _quantile_disc_expr(x: str, q: str) -> str:
    """DuckDB ``quantile_disc(x, q)`` picks the sorted element at 1-based
    index ``ceil(q·n)`` over the non-NULL values (measured: n=4 gives
    q=.25→1st, .26→2nd, .5→2nd, .75→3rd, 1.0→4th — the SQL-standard
    cume_dist pick). Spark's ``percentile_disc`` agrees on the INDEX but
    returns DOUBLE; this spelling keeps the element type (ints stay ints,
    strings/dates work) via sort_array+element_at. The all-NULL group
    short-circuits to NULL (DuckDB's result; ANSI element_at would
    error)."""
    return (
        f"CASE WHEN count({x}) = 0 THEN NULL "
        f"ELSE element_at(sort_array(collect_list({x})), "
        f"greatest(CAST(ceil(({q}) * count({x})) AS INT), 1)) END"
    )


_TRAILING_OVER_RE = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def _rewrite_quantile_disc(masked: str) -> str:
    """``quantile_disc`` / its ``quantile`` alias → type-preserving rank
    arithmetic. The list-of-quantiles form unrolls to one expression per
    literal element (aggregates cannot live inside lambdas); a non-literal
    quantile list keeps an explicit refusal. Two forms refuse explicitly
    rather than emitting SQL that fails later with an opaque error:
    the windowed ``quantile_disc(..) OVER (..)`` (the CASE translation is
    not a window function) and the 1-arg median shorthand (this DuckDB
    build itself refuses ``quantile(x)`` — write an explicit quantile).
    Memory note: like DuckDB's own implementation this materializes each
    group's values; the streaming-friendly path at scale is
    quantile_cont/percentile."""
    pos = 0
    while True:
        m = _QUANTILE_DISC_CALL_RE.search(masked, pos)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        if _TRAILING_OVER_RE.match(masked, close + 1):
            raise ValueError(
                "quantile_disc/quantile OVER (...) window form is not "
                "translatable (the rank-arithmetic rewrite is a grouped "
                "aggregate, not a window function); use percentile_disc "
                "(...) WITHIN GROUP (ORDER BY ..) OVER (..) or a grouped "
                "subquery"
            )
        args = [a.strip() for a in _split_top_level(masked[open_idx + 1 : close])]
        if len(args) == 1:
            raise ValueError(
                "quantile_disc/quantile with a single argument has no "
                "translation (and DuckDB itself rejects it); pass the "
                "quantile explicitly, e.g. quantile_disc(x, 0.5)"
            )
        if len(args) != 2:
            pos = m.end()
            continue
        x, q = args[0], args[1]
        if q.startswith("["):
            inner = q[1:-1] if q.endswith("]") else None
            if inner is None:
                raise ValueError(
                    "quantile_disc: quantile list must be a literal [..]"
                )
            qs = [s.strip() for s in _split_top_level(inner)]
            exprs = ", ".join(_quantile_disc_expr(x, qq) for qq in qs)
            repl = f"array({exprs})"
        else:
            repl = _quantile_disc_expr(x, q)
        masked = masked[: m.start()] + repl + masked[close + 1 :]


def _find_matching_back(sql: str, close_idx: int) -> int:
    """Index of the bracket matching ``sql[close_idx]`` (``)`` or ``]``),
    scanning left; -1 if unbalanced."""
    close_ch = sql[close_idx]
    open_ch = "(" if close_ch == ")" else "["
    depth = 0
    for i in range(close_idx, -1, -1):
        if sql[i] == close_ch:
            depth += 1
        elif sql[i] == open_ch:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _slice_operand_start(masked: str, open_idx: int) -> int:
    """Start index of the expression being subscripted at ``open_idx``
    (walks identifier / call / subscript / placeholder chains and dotted
    qualifiers leftward)."""
    j = open_idx - 1
    while j >= 0 and masked[j].isspace():
        j -= 1
    while j >= 0:
        if masked[j] in ")]":
            o = _find_matching_back(masked, j)
            if o < 0:
                return j + 1
            j = o - 1
            if j >= 0 and masked[j] == "\x01":  # marked call: name\x01(...)
                j -= 1
            while j >= 0 and (masked[j].isalnum() or masked[j] == "_"):
                j -= 1
        elif masked[j] == "\x00":
            j -= 1
            while j >= 0 and masked[j] != "\x00":
                j -= 1
            j -= 1
        elif masked[j].isalnum() or masked[j] == "_":
            while j >= 0 and (masked[j].isalnum() or masked[j] == "_"):
                j -= 1
        else:
            break
        if j >= 0 and masked[j] == ".":
            j -= 1
            continue
        break
    return j + 1


_SLICE_WRAP_PREFIX = "element_at\x01(transform\x01(array\x01("
_SLICE_WRAP_FN_RE = re.compile(r",\s*_sl\d+\s*->\s*(substring|slice)\x01\(")


def _slice_result_kind(op: str) -> str | None:
    """Kind ('string'/'array') of an operand that is itself a slice
    rewrite's bound-lambda output — chained slicing ``s[a:b][c:d]``
    subscripts the generated ``element_at(transform(array(..)))``
    wrapper, which ``_len_kind`` cannot classify. The dispatch function
    of the OUTER lambda (found after the array(..) argument closes, so
    nested rewrites inside the operand cannot be mistaken for it) names
    the kind."""
    op = op.strip()
    while op.startswith("(") and _find_matching(op, 0, "(", ")") == len(op) - 1:
        op = op[1:-1].strip()
    if not op.startswith(_SLICE_WRAP_PREFIX):
        return None
    arr_open = len(_SLICE_WRAP_PREFIX) - 1
    arr_close = _find_matching(op, arr_open, "(", ")")
    if arr_close < 0:
        return None
    m = _SLICE_WRAP_FN_RE.match(op, arr_close + 1)
    if not m:
        return None
    return "string" if m.group(1) == "substring" else "array"


def _rewrite_slices(masked: str, schemas: _Schemas) -> str:
    """DuckDB ``expr[a:b]`` slicing (1-based, end-inclusive, negatives
    from the end, out-of-range clamped, empty bounds defaulting to the
    ends) → ``substring`` for strings / ``slice`` for arrays, dispatched
    on the operand's inferred kind (same inference as ``len()``).
    Undecidable operands keep an explicit refusal.

    The operand is evaluated exactly ONCE: it is bound to a lambda
    variable via ``element_at(transform(array(op), _sl -> ...), 1)``
    rather than spliced into the bound arithmetic 4×. That keeps a
    non-deterministic operand (random()/uuid()) coherent across the
    start/length/body references, and stops the combinatorial SQL
    blow-up where nested slices re-expanded each copy. Generated call
    names carry the \\x01 marker so later pipeline passes (the
    substring end-clamp rewrite in particular — the emitted bounds are
    already Spark-clamped: start ≥ 1, length ≥ 0) leave them alone."""
    uniq = 0
    while True:
        target = None
        for i, ch in enumerate(masked):
            if ch != "[" or not _is_subscript(masked, i):
                continue
            close = _find_matching(masked, i, "[", "]")
            if close < 0:
                continue
            body = masked[i + 1 : close]
            depth = 0
            colon = -1
            for j, c in enumerate(body):
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                elif (
                    c == ":"
                    and depth == 0
                    and (j == 0 or body[j - 1] != ":")
                    and (j + 1 >= len(body) or body[j + 1] != ":")
                ):
                    colon = j
                    break
            if colon >= 0:
                target = (i, close, body, colon)
                break
        if target is None:
            return masked
        i, close, body, colon = target
        a, b = body[:colon].strip(), body[colon + 1 :].strip()
        start_op = _slice_operand_start(masked, i)
        op = masked[start_op:i].strip()
        kind = _slice_result_kind(op) or _len_kind(op, schemas)
        var = f"_sl{uniq}"
        uniq += 1
        if kind == "string":
            fn, ln = "substring", f"length\x01({var})"
        elif kind == "array":
            fn, ln = "slice", f"size\x01({var})"
        else:
            raise ValueError(
                f"[i:j] slicing target {op!r} has an unresolvable type "
                "(string vs list dispatch); use substring()/slice() "
                "explicitly"
            )
        ai = f"(CASE WHEN ({a}) < 0 THEN {ln} + ({a}) + 1 ELSE ({a}) END)" if a else "1"
        start = f"greatest\x01({ai}, 1)" if a else "1"
        bi = f"(CASE WHEN ({b}) < 0 THEN {ln} + ({b}) + 1 ELSE ({b}) END)" if b else ln
        repl = (
            f"element_at\x01(transform\x01(array\x01({op}), "
            f"{var} -> {fn}\x01({var}, {start}, "
            f"greatest\x01({bi} - {start} + 1, 0))), 1)"
        )
        masked = masked[:start_op] + repl + masked[close + 1 :]


def _rewrite_list_reduce(masked: str) -> str:
    """DuckDB ``list_reduce(l, λ)`` seeds the left fold with the FIRST
    element and folds λ(acc, x) over the rest; Spark's ``aggregate``
    requires an explicit seed, so replay DuckDB's semantics as
    ``aggregate(slice(l, 2, …), element_at(l, 1), λ)``. Empty lists error
    on both engines (DuckDB refuses the fold; ANSI ``element_at`` raises
    on index 1), NULL lists return NULL on both."""

    def build(m, args):
        if len(args) != 2:
            raise ValueError("list_reduce takes exactly (list, lambda)")
        l, lam = args
        return (
            f"aggregate(slice({l}, 2, greatest(size({l}) - 1, 0)), "
            f"element_at({l}, 1), {lam})"
        )

    return _rewrite_call(masked, _LIST_REDUCE_RE, build)


def _rewrite_call(masked: str, pattern: re.Pattern, build) -> str:
    """Generic ``fn(...)`` rewrite: ``build(match, args) -> replacement``
    (or None to leave the call site untouched). A replacement that must
    keep the same function name embeds ``\\x01`` after the name so it
    cannot re-match; markers are stripped at the end of the pipeline."""
    pos = 0
    while True:
        m = pattern.search(masked, pos)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        args = [a.strip() for a in _split_top_level(masked[open_idx + 1 : close])]
        repl = build(m, args)
        if repl is None:
            pos = m.end()
            continue
        masked = masked[: m.start()] + repl + masked[close + 1 :]


_LOG_RE = re.compile(r"\blog\s*\(", re.IGNORECASE)
_REGEXP_EXTRACT_RE = re.compile(r"\bregexp_extract\s*\(", re.IGNORECASE)
_REGEXP_EXTRACT_ALL_RE = re.compile(r"\bregexp_extract_all\s*\(", re.IGNORECASE)
_LRTRIM_RE = re.compile(r"\b([lr])trim\s*\(", re.IGNORECASE)
_TRUNC_RE = re.compile(r"\btrunc\s*\(", re.IGNORECASE)
# Postgres-style match OPERATORS. Binary-use only: the left context must be
# an operand tail (identifier char, closing paren/bracket, or a masked
# literal's \x00), which excludes unary bitwise-NOT (`~5`, always preceded
# by an operator/open-paren/comma). The right side must be a masked string
# literal — `~`'s full-match anchoring needs the pattern text.
_MATCH_OP_RE = re.compile(
    r"(?P<pre>[\w\)\]\x00])(?P<sp>\s*)(?P<op>!~~|~~|!~|~)\s*\x00(?P<idx>\d+)\x00"
)
_REGEXP_FULL_MATCH_RE = re.compile(r"\bregexp_full_match\s*\(", re.IGNORECASE)
_STRPTIME_RE = re.compile(r"\bstrptime\s*\(", re.IGNORECASE)
_TO_TIMESTAMP_RE = re.compile(r"\bto_timestamp\s*\(", re.IGNORECASE)
_DATE_ADD_RE = re.compile(r"\bdate_?add\s*\(", re.IGNORECASE)
_DATE_SUB_RE = re.compile(r"\bdate_?sub\s*\(", re.IGNORECASE)
_ISOYEAR_RE = re.compile(r"\bisoyear\s*\(", re.IGNORECASE)
_ISFINITE_RE = re.compile(r"\bisfinite\s*\(", re.IGNORECASE)
_ISINF_RE = re.compile(r"\bisinf\s*\(", re.IGNORECASE)
_INTERVAL_KW_RE = re.compile(r"\bINTERVAL\b", re.IGNORECASE)
# Fixed-width units where Spark's timestampdiff IS DuckDB date_sub's
# complete-elapsed counting (truncating epoch division, symmetric in
# sign). 'week' is excluded: DuckDB anchors weeks on calendar weeks in
# some versions. Calendar units (month/quarter/year) are NOT here —
# Spark's timestampdiff diverges from DuckDB at month-end clamps (e.g.
# May 31 → Jun 30 counts as a complete month in DuckDB, not in Spark's
# ChronoUnit counting), so they get an exact add_months closed form.
_TIMESTAMPDIFF_UNITS = {"day", "hour", "minute", "second"}
# Calendar units: DuckDB's count = greatest N ≥ 0 with the ONE-SHOT
# clamped addition add_months(x, N) (+ x's time-of-day) ≤ y, for x ≤ y,
# negated when the arguments are reversed; quarter/year are the month
# count div 3 / div 12 (toward-zero, matching DuckDB's symmetry).
_CALENDAR_UNIT_DIV = {"month": 1, "quarter": 3, "year": 12}


def _complete_months_sql(x: str, y: str) -> str:
    """Complete elapsed months from ``x`` to ``y`` (``x`` ≤ ``y``),
    DuckDB-exact: the calendar month delta N0, minus 1 when adding N0
    months to ``x`` (Spark's add_months clamps day-of-month exactly like
    DuckDB's one-shot ``+ INTERVAL N MONTH``) lands past ``y``."""
    n0 = f"((year({y}) - year({x})) * 12 + (month({y}) - month({x})))"
    recon = (
        f"(cast(add_months(to_date({x}), {n0}) as timestamp) "
        f"+ (cast({x} as timestamp) - cast(to_date({x}) as timestamp)))"
    )
    return (
        f"({n0} - (CASE WHEN {recon} > cast({y} as timestamp) "
        f"THEN 1 ELSE 0 END))"
    )


def _anchor_literal(literals: list[str], token: str) -> str | None:
    """Wrap the masked string literal ``token`` refers to in full-match
    anchors (``^(?:...)$``), returning the token — or None if ``token``
    is not a masked literal."""
    idx = _literal_index(token)
    if idx is None:
        return None
    literals[idx] = f"'^(?:{literals[idx][1:-1]})$'"
    return token


def _rewrite_match_operators(masked: str, literals: list[str]) -> str:
    """Postgres-style operators DuckDB supports but Spark parses as
    bitwise-NOT or a syntax error: ``~`` (full regex match) / ``!~`` →
    anchored ``[NOT] RLIKE``; ``~~`` (LIKE alias) / ``!~~`` → ``[NOT]
    LIKE``. ``regexp_full_match(s, 'p')`` gets the same anchoring."""

    def sub(m):
        op = m.group("op")
        tok = f"\x00{m.group('idx')}\x00"
        if op in ("~", "!~"):
            _anchor_literal(literals, tok)
            kw = "RLIKE" if op == "~" else "NOT RLIKE"
        else:
            kw = "LIKE" if op == "~~" else "NOT LIKE"
        return f"{m.group('pre')} {kw} {tok}"

    masked = _MATCH_OP_RE.sub(sub, masked)

    def build_full_match(m, a):
        if len(a) != 2:
            return None
        if _anchor_literal(literals, a[1]) is None:
            raise ValueError(
                "regexp_full_match with a non-literal pattern cannot be "
                "translated (Spark RLIKE is a partial match; anchoring "
                "needs the pattern text) — inline the pattern literal"
            )
        return f"({a[0]} RLIKE {a[1]})"

    return _rewrite_call(masked, _REGEXP_FULL_MATCH_RE, build_full_match)


def _rewrite_time_flips(masked: str, literals: list[str]) -> str:
    """Time functions whose Spark same-name counterpart silently differs:

    * ``strptime(s, '%fmt')`` → ``to_timestamp(s, 'translated fmt')``
      (strftime's %-map, reused);
    * 1-arg ``to_timestamp(x)`` → ``timestamp_seconds(x)`` — DuckDB's
      to_timestamp ONLY accepts epoch seconds, Spark's parses strings;
    * ``date_add(d, INTERVAL ...)`` → ``cast(d + INTERVAL ... as
      timestamp)`` — Spark's date_add is (date, int-days) and DuckDB's
      interval overload always yields TIMESTAMP;
    * 3-arg ``date_sub('part', a, b)`` → ``timestampdiff(PART, a, b)``
      (complete elapsed units in both engines — NOT date_diff's
      boundary counting);
    * ``isoyear(x)`` → ``extract(YEAROFWEEK FROM x)``."""

    def build_strptime(m, a):
        if len(a) != 2:
            return None
        idx = _literal_index(a[1])
        if idx is None:
            raise ValueError(
                "strptime with a non-literal format cannot be translated "
                "(the %-codes must be mapped to Spark's pattern letters); "
                "inline the format string"
            )
        literals[idx] = (
            "'" + _translate_strftime_format(literals[idx].strip("'")) + "'"
        )
        return f"to_timestamp\x01({a[0]}, {a[1]})"

    masked = _rewrite_call(masked, _STRPTIME_RE, build_strptime)
    masked = _rewrite_call(
        masked,
        _TO_TIMESTAMP_RE,
        lambda m, a: f"timestamp_seconds({a[0]})" if len(a) == 1 else None,
    )
    masked = _rewrite_call(
        masked,
        _DATE_ADD_RE,
        lambda m, a: (
            f"cast(({a[0]}) + ({a[1]}) as timestamp)"
            if len(a) == 2 and _INTERVAL_KW_RE.search(a[1])
            else None
        ),
    )

    def build_date_sub(m, a):
        if len(a) != 3:
            return None
        idx = _literal_index(a[0])
        if idx is None:
            raise ValueError(
                "date_sub with a non-literal part cannot be translated; "
                "inline the part name"
            )
        unit = literals[idx][1:-1].lower()
        if unit in _CALENDAR_UNIT_DIV:
            xa, xb = f"({a[1]})", f"({a[2]})"
            fwd = _complete_months_sql(xa, xb)
            bwd = _complete_months_sql(xb, xa)
            months = (
                f"(CASE WHEN cast({xa} as timestamp) <= "
                f"cast({xb} as timestamp) THEN {fwd} ELSE -{bwd} END)"
            )
            div = _CALENDAR_UNIT_DIV[unit]
            return months if div == 1 else f"({months} div {div})"
        if unit not in _TIMESTAMPDIFF_UNITS:
            raise ValueError(
                f"date_sub({unit!r}, ...) complete-interval semantics have "
                "no verified Spark equivalent (supported: "
                f"{sorted(_TIMESTAMPDIFF_UNITS | set(_CALENDAR_UNIT_DIV))}); "
                "use date_diff for boundary counting or spell the "
                "arithmetic explicitly"
            )
        return f"timestampdiff({unit.upper()}, {a[1]}, {a[2]})"

    masked = _rewrite_call(masked, _DATE_SUB_RE, build_date_sub)
    masked = _rewrite_call(
        masked,
        _ISOYEAR_RE,
        lambda m, a: f"extract(YEAROFWEEK FROM {a[0]})" if len(a) == 1 else None,
    )
    # isfinite/isinf: NULL → NULL (comparisons propagate), NaN → false for
    # both (Spark NaN = Infinity is false; isnan screens the isfinite arm).
    masked = _rewrite_call(
        masked,
        _ISFINITE_RE,
        lambda m, a: (
            f"(NOT isnan({a[0]}) AND "
            f"abs({a[0]}) <> cast(\x02Infinity\x02 as double))"
            if len(a) == 1
            else None
        ),
    )
    return _rewrite_call(
        masked,
        _ISINF_RE,
        lambda m, a: (
            f"(abs({a[0]}) = cast(\x02Infinity\x02 as double))"
            if len(a) == 1
            else None
        ),
    )


def _rewrite_math_string_flips(masked: str) -> str:
    """Same-spelling functions whose defaults diverge:

    * ``log(x)`` is log10 in DuckDB but ln in Spark → ``log10(x)``
      (two-argument ``log(base, x)`` agrees and passes through);
    * ``regexp_extract(s, p)`` returns the whole match in DuckDB but
      group 1 in Spark (and errors on group-free patterns) → append
      ``, 0``;
    * ``ltrim/rtrim(s, chars)`` has REVERSED arguments in Spark
      ('xxabc','x' silently returns '') → ``trim(LEADING/TRAILING chars
      FROM s)``;
    * numeric ``trunc(x)`` does not exist in Spark (its trunc is
      date-only) → toward-zero CASE of floor/ceil."""
    masked = _rewrite_call(
        masked,
        _LOG_RE,
        lambda m, a: f"log10({a[0]})" if len(a) == 1 else None,
    )
    masked = _rewrite_call(
        masked,
        _REGEXP_EXTRACT_RE,
        lambda m, a: (
            f"regexp_extract\x01({a[0]}, {a[1]}, 0)" if len(a) == 2 else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _REGEXP_EXTRACT_ALL_RE,
        lambda m, a: (
            f"regexp_extract_all\x01({a[0]}, {a[1]}, 0)"
            if len(a) == 2
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _LRTRIM_RE,
        lambda m, a: (
            (
                f"trim({'LEADING' if m.group(1).lower() == 'l' else 'TRAILING'}"
                f" {a[1]} FROM {a[0]})"
            )
            if len(a) == 2
            else None
        ),
    )
    # DOUBLE result pins the dominant DuckDB case (trunc of DOUBLE stays
    # DOUBLE; Spark's floor/ceil yield BIGINT). Integer/decimal inputs
    # come back as doubles — a type, not value, divergence.
    return _rewrite_call(
        masked,
        _TRUNC_RE,
        lambda m, a: (
            f"cast((CASE WHEN ({a[0]}) < 0 THEN ceil({a[0]}) "
            f"ELSE floor({a[0]}) END) as double)"
            if len(a) == 1
            else None
        ),
    )


# ---------------------------------------------------------------------------
# Division / modulo by zero: DuckDB yields NULL, Spark under its ANSI
# default (4.x) raises DIVIDE_BY_ZERO — a migrated flow's occasional /0
# crashes instead of flowing NULL. The `/` and `%` OPERATORS therefore
# rewrite to try_divide / try_mod, which is exactly DuckDB's NULL-on-zero
# behavior while keeping every other ANSI semantic (strict casts,
# overflow) that DOES match DuckkDB. Precedence is preserved by parsing
# the full multiplicative chain around each operator and rebuilding it
# left-associatively: a * b / c % d → try_mod(try_divide(a * b, c), d).
# ---------------------------------------------------------------------------
_ATOM_CHARS = set("_$.\x01")


def _absorb_unary_sign(s: str, k: int) -> int:
    """Extend an atom's start ``k`` over a UNARY +/- (one whose own left
    context is an operator, opener, comma, or the ``div`` keyword — not
    an operand, which would make it binary)."""
    j = k
    while j > 0 and s[j - 1].isspace():
        j -= 1
    if j == 0 or s[j - 1] not in "+-":
        return k
    sign = j - 1
    i = sign
    while i > 0 and s[i - 1].isspace():
        i -= 1
    if i == 0:
        return sign
    prev = s[i - 1]
    if prev in "*/%(,[<>=|&+-":
        return sign
    if _DIV_KEYWORD_RE.search(s, 0, i):
        m = _DIV_KEYWORD_RE.search(s, 0, i)
        if m.end() == i:
            return sign
    return k


def _absorb_atom_left(s: str, j: int) -> int:
    """Start index of the operand atom (with postfix groups, its
    function-name head, and a leading unary sign) ending just before
    ``j`` in masked text."""
    while True:
        while j > 0 and s[j - 1].isspace():
            j -= 1
        if j == 0:
            return j
        c = s[j - 1]
        if c in ")]":
            k = _find_matching_back(s, j - 1)
            if k < 0:
                return j
            j = k
            # function-name head / chained postfix continues the atom.
            if j > 0 and (
                s[j - 1].isalnum()
                or s[j - 1] in _ATOM_CHARS
                or s[j - 1] in ")]"
            ):
                continue
            return _absorb_unary_sign(s, j)
        if c == "\x00":
            k = s.rfind("\x00", 0, j - 1)
            return _absorb_unary_sign(s, k) if k >= 0 else j
        if c.isalnum() or c in _ATOM_CHARS or c == ":":
            k = j - 1
            while k > 0 and (s[k - 1].isalnum() or s[k - 1] in _ATOM_CHARS or s[k - 1] == ":"):
                k -= 1
            # scientific notation: 1e-5 — extend over the signed exponent.
            if (
                k >= 2
                and s[k - 1] in "+-"
                and s[k - 2] in "eE"
                and k >= 3
                and s[k - 3].isdigit()
            ):
                k -= 2
                while k > 0 and (s[k - 1].isdigit() or s[k - 1] == "."):
                    k -= 1
            return _absorb_unary_sign(s, k)
        return j


def _absorb_atom_right(s: str, j: int) -> int:
    """End index (exclusive) of the operand atom starting at/after ``j``."""
    n = len(s)
    while j < n and s[j].isspace():
        j += 1
    if j < n and s[j] in "+-":  # unary sign
        j += 1
        while j < n and s[j].isspace():
            j += 1
    while True:
        if j >= n:
            return j
        c = s[j]
        if c == "\x00":
            k = s.find("\x00", j + 1)
            j = (k + 1) if k >= 0 else n
        elif c in "([":
            k = _find_matching(s, j, c, ")" if c == "(" else "]")
            j = k + 1 if k >= 0 else n
        elif c.isalnum() or c in _ATOM_CHARS or c == ":":
            while j < n and (s[j].isalnum() or s[j] in _ATOM_CHARS or s[j] == ":"):
                j += 1
            # scientific notation: 1e-5 / 1E+30.
            if (
                j < n - 1
                and s[j] in "+-"
                and s[j - 1] in "eE"
                and s[j - 2 : j - 1].isdigit()
            ):
                j += 1
                while j < n and s[j].isdigit():
                    j += 1
        else:
            return j
        # postfix continues the atom: call args, subscript, cast, field.
        if j < n and s[j] in "([":
            continue
        k = j
        while k < n and s[k].isspace():
            k += 1
        if k < n and (s[k] == ":" or s[k] == "."):
            j = k
            continue
        return j


_DIV_MOD_RE = re.compile(r"[/%]|\bdiv\b(?!\x01)", re.IGNORECASE)
_DIV_KEYWORD_RE = re.compile(r"\bdiv\s*$", re.IGNORECASE)


def _chain_op_left(s: str, j: int):
    """The multiplicative operator ending just before ``j``, or None."""
    while j > 0 and s[j - 1].isspace():
        j -= 1
    if j > 0 and s[j - 1] in "*/%":
        return s[j - 1], j - 1
    m = _DIV_KEYWORD_RE.search(s, 0, j)
    if m and m.end() == j:
        return "div", m.start()
    return None


def _chain_op_right(s: str, j: int):
    while j < len(s) and s[j].isspace():
        j += 1
    if j < len(s) and s[j] in "*/%":
        return s[j], j + 1
    if s[j : j + 3].lower() == "div" and (
        j + 3 >= len(s)
        or not (s[j + 3].isalnum() or s[j + 3] in "_\x01")
    ):
        return "div", j + 3
    return None


def _rewrite_div_mod_ops(masked: str) -> str:
    """``a / b`` → ``try_divide(a, b)``, ``a % b`` → ``try_mod(a, b)``,
    left-associatively over the whole multiplicative chain so mixed
    ``* / % div`` expressions keep SQL precedence."""
    pos = 0
    while True:
        m = _DIV_MOD_RE.search(masked, pos)
        if not m:
            return masked
        # walk to the START of this multiplicative chain.
        atoms, ops = [], []
        start = _absorb_atom_left(masked, m.start())
        left_edge = start
        while True:
            op = _chain_op_left(masked, left_edge)
            if not op:
                break
            prev_start = _absorb_atom_left(masked, op[1])
            if prev_start == op[1]:  # no operand — unary/malformed; stop.
                break
            left_edge = prev_start
        # tokenize the chain forward from left_edge.
        a_end = _absorb_atom_right(masked, left_edge)
        if a_end <= left_edge:
            pos = m.end()
            continue
        atoms = [masked[left_edge:a_end].strip()]
        cursor = a_end
        while True:
            op = _chain_op_right(masked, cursor)
            if not op:
                break
            nxt_end = _absorb_atom_right(masked, op[1])
            if nxt_end <= op[1]:
                break
            ops.append(op[0])
            atoms.append(masked[op[1] : nxt_end].strip())
            cursor = nxt_end
        if not any(o in ("/", "%", "div") for o in ops):
            pos = m.end()
            continue
        acc = atoms[0]
        for o, atom in zip(ops, atoms[1:]):
            if o == "/":
                acc = f"try_divide({acc}, {atom})"
            elif o == "%":
                acc = f"try_mod({acc}, {atom})"
            elif o == "div":
                # `//` arrived here as `div`; DuckDB's `// 0` is NULL too,
                # and Spark has no try_ integral divide — NULL-guard it
                # (exact, unlike a double round-trip). \x01 keeps the
                # emitted keyword off the rescan.
                acc = (
                    f"(CASE WHEN ({atom}) = 0 THEN NULL "
                    f"ELSE ({acc}) div\x01 ({atom}) END)"
                )
            else:
                acc = f"{acc} {o} {atom}"
        masked = masked[:left_edge] + acc + masked[cursor:]
        # Rescan the rebuilt region: operands absorbed as paren atoms can
        # still hold raw / % div chains of their own (emitted keywords
        # are sentineled, so no re-wrap).
        pos = left_edge


# ---------------------------------------------------------------------------
# Numeric → integer casts ROUND in DuckDB (3.7::INT = 4) but TRUNCATE in
# Spark (cast(3.7 as int) = 3) — the classic migration landmine. The
# rewrite routes through DECIMAL(38, 9): exact for BIGINTs (no double
# round-trip), HALF_UP for decimals (DuckDB's half-away), works for
# booleans and numeric strings, and errors loudly exactly where DuckDB
# errors (malformed strings, dates, overflow). Known corner: DOUBLEs
# exactly at .5 round half-up here vs DuckDB's rint half-even.
# ---------------------------------------------------------------------------
_INT_TYPE_MAP = {
    "int": "INT", "integer": "INT", "int4": "INT", "signed": "INT",
    "bigint": "BIGINT", "int8": "BIGINT", "long": "BIGINT",
    "smallint": "SMALLINT", "int2": "SMALLINT", "short": "SMALLINT",
    "tinyint": "TINYINT", "int1": "TINYINT",
    "hugeint": "DECIMAL(38, 0)",  # Spark has no int128
}
# DuckDB list-type spelling `T[]` (in CAST targets and `::` casts) →
# Spark `ARRAY<T>`, innermost-first so `INT[][]` nests correctly. Element
# names map to their Spark spellings (varchar→STRING, hugeint→DECIMAL).
_ARRAY_ELEM_TYPE_MAP = {
    **_INT_TYPE_MAP,
    "varchar": "STRING", "text": "STRING", "string": "STRING",
    "char": "STRING", "bpchar": "STRING",
    "double": "DOUBLE", "float8": "DOUBLE",
    "float": "FLOAT", "real": "FLOAT", "float4": "FLOAT",
    "boolean": "BOOLEAN", "bool": "BOOLEAN",
    "date": "DATE", "timestamp": "TIMESTAMP", "datetime": "TIMESTAMP",
    "decimal": "DECIMAL", "numeric": "DECIMAL", "blob": "BINARY",
}
_ARRAY_TYPE_RE = re.compile(
    r"(\b(?:" + "|".join(_ARRAY_ELEM_TYPE_MAP) + r")\b"
    r"(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
    r"|ARRAY<[^\[\]]*>)\s*\[\s*\]",
    re.IGNORECASE,
)


def _rewrite_array_types(masked: str) -> str:
    def repl(m: re.Match) -> str:
        inner = m.group(1)
        base = re.match(r"[A-Za-z_0-9]+", inner)
        if base and base.group(0).lower() in _ARRAY_ELEM_TYPE_MAP:
            mapped = _ARRAY_ELEM_TYPE_MAP[base.group(0).lower()]
            suffix = inner[base.end():]
            if not suffix.strip():
                inner = mapped
            elif "(" not in mapped:
                inner = mapped + suffix
        return f"ARRAY<{inner}>"

    prev = None
    while prev != masked:
        prev = masked
        masked = _ARRAY_TYPE_RE.sub(repl, masked)
    return masked


_CAST_CALL_RE = re.compile(r"\b(try_)?cast\s*\(", re.IGNORECASE)
_COLON_INT_CAST_RE = re.compile(
    r"::\s*(" + "|".join(_INT_TYPE_MAP) + r")\b", re.IGNORECASE
)
_PURE_INT_RE = re.compile(r"[+-]?\d+$")


def _find_last_top_level_as(text: str) -> int:
    depth, last = 0, -1
    for m in re.finditer(r"[()\[\]]|\bAS\b", text, re.IGNORECASE):
        tok = m.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            last = m.start()
    return last


def _rounded_int_cast(expr: str, target: str, try_: bool) -> str:
    """DuckDB rounds HALF-EVEN for DOUBLE sources (C rint) but HALF-AWAY
    for DECIMAL/string sources — ``typeof`` is foldable in Spark, so the
    CASE dispatch constant-folds to the right branch at analysis time
    with no runtime cost, and each branch casts to the target itself (no
    CASE type-unification through DOUBLE, which would corrupt BIGINTs
    beyond 2^53)."""
    fn = "try_cast" if try_ else "cast"
    dbl = f"{fn}\x01(bround({fn}\x01(({expr}) as double)) as {target})"
    dec = (
        f"{fn}\x01(round({fn}\x01(({expr}) as decimal(38, 9))) "
        f"as {target})"
    )
    return (
        f"(CASE WHEN typeof\x01(({expr})) IN (\x02double\x02, \x02float\x02) "
        f"THEN {dbl} ELSE {dec} END)"
    )


def _rewrite_int_casts(masked: str) -> str:
    """``CAST/TRY_CAST(e AS <int type>)`` and ``e::<int type>`` → the
    DECIMAL-rounding form above; pure integer literals pass through."""

    def build(m, args):
        if len(args) != 1:
            return None
        body = args[0]
        as_idx = _find_last_top_level_as(body)
        if as_idx < 0:
            return None
        target = body[as_idx + 2 :].strip().lower()
        if target not in _INT_TYPE_MAP:
            return None
        expr = body[:as_idx].strip()
        if _PURE_INT_RE.fullmatch(expr):
            return None
        return _rounded_int_cast(
            expr, _INT_TYPE_MAP[target], bool(m.group(1))
        )

    masked = _rewrite_call(masked, _CAST_CALL_RE, build)
    pos = 0
    while True:
        m = _COLON_INT_CAST_RE.search(masked, pos)
        if not m:
            return masked
        start = _absorb_atom_left(masked, m.start())
        expr = masked[start : m.start()].strip()
        if not expr or _PURE_INT_RE.fullmatch(expr):
            pos = m.end()
            continue
        repl = _rounded_int_cast(
            expr, _INT_TYPE_MAP[m.group(1).lower()], False
        )
        masked = masked[:start] + repl + masked[m.end() :]
        pos = start + len(repl)


_ANY_VALUE_RE = re.compile(r"\bany_value\s*\(", re.IGNORECASE)
_CORR_RE = re.compile(r"\bcorr\s*\(", re.IGNORECASE)
_FILTER_CLAUSE_RE = re.compile(r"\bFILTER\s*\(", re.IGNORECASE)


def _rewrite_agg_flips(masked: str) -> str:
    """Aggregate-level flips:

    * ``any_value(x)`` SKIPS nulls in DuckDB but respects them in Spark
      → ``any_value(x, true)``;
    * ``FILTER (cond)`` — DuckDB's WHERE-less spelling — → ``FILTER
      (WHERE cond)`` (only after a closing paren, so the ``filter``
      higher-order function is untouched);
    * ``corr(x, y)`` with zero variance is NULL in DuckDB but raises
      DIVIDE_BY_ZERO under Spark's ANSI default → recomposed as
      ``try_divide(covar_pop, sd(x|y paired) * sd(y|x paired))`` with
      pairwise null deletion preserved."""
    masked = _rewrite_call(
        masked,
        _ANY_VALUE_RE,
        lambda m, a: (
            f"any_value\x01({a[0]}, true)" if len(a) == 1 else None
        ),
    )

    def build_corr(m, a):
        if len(a) != 2:
            return None
        x, y = a
        sx = f"stddev_pop(CASE WHEN ({y}) IS NOT NULL THEN ({x}) END)"
        sy = f"stddev_pop(CASE WHEN ({x}) IS NOT NULL THEN ({y}) END)"
        return f"try_divide(covar_pop({x}, {y}), ({sx} * {sy}))"

    masked = _rewrite_call(masked, _CORR_RE, build_corr)

    pos = 0
    while True:
        m = _FILTER_CLAUSE_RE.search(masked, pos)
        if not m:
            return masked
        prev = masked[: m.start()].rstrip()
        if not prev.endswith(")"):
            pos = m.end()
            continue
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        inner = masked[open_idx + 1 : close].strip()
        # a depth-0 comma means a multi-argument higher-order filter()
        if re.match(r"WHERE\b", inner, re.IGNORECASE) or len(_split_top_level(inner)) > 1:
            pos = m.end()
            continue
        masked = (
            masked[: open_idx + 1] + "WHERE " + masked[open_idx + 1 :]
        )
        pos = close + len("WHERE ") + 1


_CONCAT_RE = re.compile(r"\bconcat\s*\(", re.IGNORECASE)
_SUBSTR_RE = re.compile(r"\bsubstr(?:ing)?\s*\(", re.IGNORECASE)
_LEFT_RE = re.compile(r"\bleft\s*\(", re.IGNORECASE)
_RIGHT_RE = re.compile(r"\bright\s*\(", re.IGNORECASE)
_BARE_NONNEG_INT_RE = re.compile(r"\+?\d+$")


def _rewrite_string_edge_flips(masked: str) -> str:
    """String functions whose edge semantics silently diverge:

    * ``concat`` SKIPS null arguments in DuckDB ('a'||NULL via concat is
      'a') but propagates NULL in Spark → each argument wraps in
      ``coalesce(cast(.. as string), '')`` (DuckDB concat is
      string-typed; array concat is list_concat and untouched);
    * 3-arg ``substr``/``substring`` with start 0 or a negative LENGTH
      follows DuckDB's character-window model ([start, start+len) in
      1-based space, negative start from the end, negative len swinging
      the window backwards, out-of-range positions dropped) → an exact
      CASE closed form. Plain positive literals pass through — Spark
      agrees there, and on every 2-arg form;
    * ``left``/``right`` with NEGATIVE n drop -n chars from the
      opposite end in DuckDB but return '' in Spark → CASE on the sign.
    """
    masked = _rewrite_call(
        masked,
        _CONCAT_RE,
        lambda m, a: (
            "concat\x01("
            + ", ".join(
                f"coalesce(cast(({x}) as string), \x02\x02)" for x in a
            )
            + ")"
            if a and any(x for x in a)
            else None
        ),
    )

    def build_substr(m, a):
        if len(a) != 3:
            return None
        s, st, ln = a
        if (
            _BARE_NONNEG_INT_RE.fullmatch(st)
            and _BARE_NONNEG_INT_RE.fullmatch(ln)
            and int(st.lstrip("+")) >= 1
        ):
            return None
        length = f"length({s})"
        st1 = f"(CASE WHEN ({st}) < 0 THEN {length} + ({st}) + 1 ELSE ({st}) END)"
        lo = f"(CASE WHEN ({ln}) < 0 THEN {st1} + ({ln}) ELSE {st1} END)"
        hi = f"(CASE WHEN ({ln}) < 0 THEN {st1} ELSE {st1} + ({ln}) END)"
        lo2 = f"greatest({lo}, 1)"
        return (
            f"(CASE WHEN {hi} <= {lo2} THEN \x02\x02 "
            f"ELSE substring\x01({s}, {lo2}, {hi} - {lo2}) END)"
        )

    masked = _rewrite_call(masked, _SUBSTR_RE, build_substr)

    def lr(side):
        def build(m, a):
            if len(a) != 2 or _BARE_NONNEG_INT_RE.fullmatch(a[1]):
                return None
            s, n = a
            if side == "left":
                neg = f"substring\x01({s}, 1, greatest(length({s}) + ({n}), 0))"
            else:
                neg = f"substring\x01({s}, 1 - ({n}))"
            return (
                f"(CASE WHEN ({n}) < 0 THEN {neg} "
                f"ELSE {side}\x01({s}, {n}) END)"
            )

        return build

    masked = _rewrite_call(masked, _LEFT_RE, lr("left"))
    return _rewrite_call(masked, _RIGHT_RE, lr("right"))


_ORDER_BY_KW_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
# Words that end an ORDER BY clause at depth 0 (frame specs, limits, set
# ops). CASE/END etc. inside items are untouched — they are not listed.
_OB_TERMINATORS = {
    "LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE", "GROUPS",
    "WINDOW", "UNION", "INTERSECT", "EXCEPT", "QUALIFY", "HAVING",
}


def _rewrite_order_by_nulls(masked: str) -> str:
    """DuckDB's default null order is NULLS LAST in BOTH directions;
    Spark's ascending default is NULLS FIRST — an ORDER BY ... LIMIT over
    a nullable key silently returns different rows. DESC agrees (both
    last), so only bare/ASC sort keys get an explicit ``NULLS LAST``.
    Applies to every ORDER BY: statement-level, OVER (...) windows, and
    WITHIN GROUP — the numbering divergence is the same in each."""
    pos = 0
    while True:
        m = _ORDER_BY_KW_RE.search(masked, pos)
        if not m:
            return masked
        i = m.end()
        depth = 0
        item_start = i
        spans = []
        while i < len(masked):
            ch = masked[i]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                spans.append((item_start, i))
                item_start = i + 1
            elif depth == 0 and (ch.isalpha() or ch == "_"):
                wm = re.match(r"[A-Za-z_][A-Za-z_0-9]*", masked[i:])
                if wm.group(0).upper() in _OB_TERMINATORS:
                    break
                i += len(wm.group(0)) - 1
            i += 1
        spans.append((item_start, i))
        clause_end = i
        new_items = []
        for s, e in spans:
            txt = masked[s:e]
            core = txt.strip()
            if (
                not core
                or core.upper() == "ALL"
                or re.search(r"\bNULLS\s+(FIRST|LAST)$", core, re.IGNORECASE)
                or re.search(r"\bDESC$", core, re.IGNORECASE)
            ):
                new_items.append(txt)
            else:
                stripped = txt.rstrip()
                new_items.append(stripped + " NULLS LAST" + txt[len(stripped):])
        repl = ",".join(new_items)
        masked = masked[: m.end()] + repl + masked[clause_end:]
        pos = m.end() + len(repl)


_EXTRACT_DIVERGENT_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(dow|isodow|epoch)\s+FROM\b", re.IGNORECASE
)


def _rewrite_extract_fields(masked: str) -> str:
    """``EXTRACT(dow/isodow/epoch FROM x)`` — same spelling, different
    numbers: DuckDB dow is 0=Sunday (Spark: 1), DuckDB isodow is
    1=Monday..7 (Spark weekday: 0=Monday), epoch is not a Spark field."""
    while True:
        m = _EXTRACT_DIVERGENT_RE.search(masked)
        if not m:
            return masked
        open_idx = masked.index("(", m.start())
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        expr = masked[m.end() : close].strip()
        field = m.group(1).lower()
        if field == "dow":
            repl = f"(dayofweek\x01({expr}) - 1)"
        elif field == "isodow":
            repl = f"(weekday\x01({expr}) + 1)"
        else:
            repl = f"(unix_micros(cast({expr} as timestamp)) / 1e6)"
        masked = masked[: m.start()] + repl + masked[close + 1 :]


# Same-name date functions whose numbering/format diverges. Markers keep
# the emitted Spark calls from re-matching.
_DAYOFWEEK_RE = re.compile(r"\b(?:dayofweek|weekday)\s*\(", re.IGNORECASE)
_ISODOW_RE = re.compile(r"\bisodow\s*\(", re.IGNORECASE)
_DAYNAME_RE = re.compile(r"\b(day|month)name\s*\(", re.IGNORECASE)
_LIST_AGG_FN_RE = re.compile(r"\b(?:list|array_agg)\s*\(", re.IGNORECASE)


def _rewrite_day_fns(masked: str, literals: list[str]) -> str:
    """DuckDB ``dayofweek``/``weekday`` both mean 0=Sunday; Spark's
    ``dayofweek`` is 1=Sunday and its ``weekday`` is 0=MONDAY — the same
    spellings, shifted numbers. ``isodow`` is 1=Monday..7. ``dayname``/
    ``monthname`` give full names (Spark's give 3-letter)."""
    masked = _rewrite_call(
        masked,
        _DAYOFWEEK_RE,
        lambda m, a: f"(dayofweek\x01({a[0]}) - 1)" if len(a) == 1 else None,
    )
    masked = _rewrite_call(
        masked,
        _ISODOW_RE,
        lambda m, a: f"(weekday\x01({a[0]}) + 1)" if len(a) == 1 else None,
    )

    def dayname(m, a):
        if len(a) != 1:
            return None
        literals.append("'EEEE'" if m.group(1).lower() == "day" else "'MMMM'")
        return f"date_format({a[0]}, \x00{len(literals) - 1}\x00)"

    return _rewrite_call(masked, _DAYNAME_RE, dayname)


_AGG_KEY_RE = re.compile(
    r"(?P<key>.*?)(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _find_top_level_order_by(text: str) -> int:
    """Index of a depth-0 ``ORDER BY`` in ``text``, or -1."""
    depth = 0
    for m in re.finditer(r"[()\[\]]|\bORDER\s+BY\b", text, re.IGNORECASE):
        tok = m.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            return m.start()
    return -1


def _ordered_collect_sql(expr: str, keys_text: str) -> str:
    """DuckDB ``list/array_agg(e ORDER BY k1 [ASC|DESC] [NULLS
    FIRST|LAST], ...)`` → comparator-sorted collect: the keys ride along
    in a struct, ``array_sort``'s comparator replays DuckDB's ordering
    (default ASC NULLS LAST — DuckDB's default_null_order is nulls_last
    for BOTH directions), and a ``transform`` strips the keys. Ties
    compare 0, mirroring DuckDB's nondeterministic tie order."""
    keys = []
    for raw in _split_top_level(keys_text):
        km = _AGG_KEY_RE.fullmatch(raw.strip())
        desc = bool(km.group("dir")) and km.group("dir").upper() == "DESC"
        nulls_first = (
            bool(km.group("nulls")) and km.group("nulls").upper() == "FIRST"
        )
        keys.append((km.group("key").strip(), desc, nulls_first))
    fields = ", ".join(
        f"({k}) AS _o{i}" for i, (k, _, _) in enumerate(keys)
    )
    cmp = "0"
    for i, (_, desc, nulls_first) in reversed(list(enumerate(keys))):
        lo, ro = f"_l._o{i}", f"_r._o{i}"
        null_l, null_r = ("-1", "1") if nulls_first else ("1", "-1")
        lt, gt = ("1", "-1") if desc else ("-1", "1")
        cmp = (
            f"CASE WHEN {lo} IS NULL AND {ro} IS NULL THEN {cmp} "
            f"WHEN {lo} IS NULL THEN {null_l} "
            f"WHEN {ro} IS NULL THEN {null_r} "
            f"WHEN {lo} < {ro} THEN {lt} "
            f"WHEN {lo} > {ro} THEN {gt} ELSE {cmp} END"
        )
    return (
        f"transform(array_sort(collect_list(struct({fields}, "
        f"({expr}) AS _v)), (_l, _r) -> {cmp}), _s -> _s._v)"
    )


def _null_keeping_collect(expr: str, distinct: bool) -> str:
    """NULL-KEEPING collect: DuckDB's ``list(x)`` keeps null elements
    (and ``DISTINCT`` keeps one), but Spark's ``collect_list`` /
    ``collect_set`` silently drop them — so the value rides inside a
    struct (never null) and ``transform`` unwraps it; ``array_distinct``
    dedups while keeping one null."""
    base = (
        f"transform(collect_list(struct(({expr}) AS _v)), _s -> _s._v)"
    )
    return f"array_distinct\x01({base})" if distinct else base


def _rewrite_list_agg_fn(masked: str) -> str:
    """DuckDB's ``list(x)`` / ``array_agg(x)`` aggregates → null-keeping
    collects (see ``_null_keeping_collect``). The inline ``ORDER BY``
    forms translate too: the sort key being the collected ascending
    expression itself → ``array_sort`` of the collect (nulls last in
    both engines); arbitrary multi-key orderings → a comparator-sorted
    struct collect (see ``_ordered_collect_sql``). DISTINCT with a
    non-self ordering is refused (dedup of the value conflicts with
    carrying foreign keys)."""

    def build(m, args):
        if not args:
            return None
        joined = ", ".join(args)
        distinct = False
        dm = re.match(r"\s*DISTINCT\s+", joined, re.IGNORECASE)
        if dm:
            distinct = True
            joined = joined[dm.end() :]
        ob = _find_top_level_order_by(joined)
        if ob < 0:
            return _null_keeping_collect(joined, distinct)
        expr = joined[:ob].strip()
        keys_text = re.sub(
            r"^ORDER\s+BY\s+", "", joined[ob:], flags=re.IGNORECASE
        ).strip()
        km = _AGG_KEY_RE.fullmatch(keys_text)
        self_asc = (
            km is not None
            and km.group("key").strip() == expr
            and (km.group("dir") or "ASC").upper() == "ASC"
            and (km.group("nulls") or "LAST").upper() == "LAST"
        )
        if self_asc:
            return f"array_sort({_null_keeping_collect(expr, distinct)})"
        if distinct:
            raise ValueError(
                "list/array_agg(DISTINCT x ORDER BY k) translates only "
                "when k is x ascending; deduping the value while sorting "
                "by another key has no Spark aggregate equivalent"
            )
        return _ordered_collect_sql(expr, keys_text)

    return _rewrite_call(masked, _LIST_AGG_FN_RE, build)


_FIRST_LAST_RE = re.compile(r"\b(first|last)\s*\(", re.IGNORECASE)


def _rewrite_first_last_ordered(masked: str) -> str:
    """``first/last(x ORDER BY k1 [DESC], ...)`` — DuckDB's ordered
    selection aggregates (e.g. ``first(price ORDER BY ts DESC)`` = the
    latest price, null x kept) → ``element_at`` on the comparator-sorted
    struct collect. The orderless forms pass through (both engines pick
    an arbitrary row)."""

    def build(m, args):
        if not args:
            return None
        joined = ", ".join(args)
        ob = _find_top_level_order_by(joined)
        if ob < 0:
            return None
        expr = joined[:ob].strip()
        keys_text = re.sub(
            r"^ORDER\s+BY\s+", "", joined[ob:], flags=re.IGNORECASE
        ).strip()
        pos = 1 if m.group(1).lower() == "first" else -1
        return f"element_at({_ordered_collect_sql(expr, keys_text)}, {pos})"

    return _rewrite_call(masked, _FIRST_LAST_RE, build)


def _rewrite_subscripts(masked: str) -> str:
    """DuckDB ``x[i]`` is 1-BASED with NULL out-of-bounds and negative
    indices counting from the end; Spark ``x[i]`` is 0-based — the worst
    kind of silent off-by-one for a migrated flow. Spark's
    ``try_element_at`` has exactly DuckDB's semantics, so every
    non-string-key subscript rewrites to it. String-literal keys
    (``m['k']``) stay as subscripts: Spark map access matches, and
    DuckDB's list-wrapped map subscript has no Spark equivalent anyway."""
    pos = 0
    while True:
        idx = masked.find("[", pos)
        if idx < 0:
            return masked
        if not _is_subscript(masked, idx):
            pos = idx + 1
            continue
        close = _find_matching(masked, idx, "[", "]")
        if close < 0:
            return masked
        body = masked[idx + 1 : close].strip()
        if _literal_index(body) is not None:
            pos = close + 1  # string key: map/struct access, shared syntax
            continue
        left_start = _arrow_left_operand(masked, idx)
        left = masked[left_start:idx].strip()
        if not left:
            pos = close + 1
            continue
        # Index 0 is NULL in DuckDB but an error for try_element_at even
        # in try mode — nullif guards it (skipped for nonzero literals).
        if not re.fullmatch(r"-?[1-9]\d*", body):
            body = f"nullif({body}, 0)"
        repl = f"try_element_at({left}, {body})"
        masked = masked[:left_start] + repl + masked[close + 1 :]
        pos = left_start + len(repl)


_IGNORE_NULLS_FNS_RE = re.compile(
    r"\b(lag|lead|first_value|last_value|nth_value|any_value|first|last)"
    r"\s*\(",
    re.IGNORECASE,
)
_NULLS_MODIFIER_RE = re.compile(
    r"(.*\S)\s+(IGNORE|RESPECT)\s+NULLS\s*$", re.IGNORECASE | re.DOTALL
)


def _rewrite_ignore_nulls(masked: str) -> str:
    """DuckDB puts the nulls modifier INSIDE the call — ``lag(x IGNORE
    NULLS)``; Spark takes it outside — ``lag(x) IGNORE NULLS``. Same
    keyword, one paren over."""

    def build(m, args):
        if not args:
            return None
        nm = _NULLS_MODIFIER_RE.fullmatch(args[-1])
        if not nm:
            return None
        inner = ", ".join(args[:-1] + [nm.group(1)])
        return f"{m.group(1)}({inner}) {nm.group(2).upper()} NULLS"

    return _rewrite_call(masked, _IGNORE_NULLS_FNS_RE, build)


_UNNEST_RE = re.compile(r"\bunnest\s*\(", re.IGNORECASE)
_TABLE_ALIAS_RE = re.compile(
    r"\s+(?:AS\s+)?([A-Za-z_][A-Za-z_0-9]*)\s*\(\s*[A-Za-z_][A-Za-z_0-9]*\s*\)"
)


def _rewrite_from_unnest(masked: str) -> str:
    """FROM-clause ``unnest(l) AS z(u)``: after a comma it becomes a
    correlated ``LATERAL explode(...)``; as the leading FROM item, the
    plain ``explode`` table-valued function. (A bare select-list
    ``unnest(...)`` is renamed to ``explode`` later.)"""
    pos = 0
    while True:
        m = _UNNEST_RE.search(masked, pos)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        am = _TABLE_ALIAS_RE.match(masked, close + 1)
        if not am:
            pos = m.end()
            continue
        i = m.start() - 1
        while i >= 0 and masked[i].isspace():
            i -= 1
        prev_word = re.search(r"([A-Za-z_]+)\s*$", masked[: i + 1])
        body = masked[open_idx + 1 : close]
        if i >= 0 and masked[i] == ",":
            repl = f"LATERAL explode({body})"
        elif prev_word and prev_word.group(1).upper() == "JOIN":
            repl = f"LATERAL explode({body})"
        elif prev_word and prev_word.group(1).upper() == "FROM":
            repl = f"explode({body})"
        else:
            pos = m.end()
            continue
        masked = masked[: m.start()] + repl + masked[close + 1 :]
        pos = m.start() + len(repl)


_REGEXP_REPLACE_RE = re.compile(r"\bregexp_replace\s*\(", re.IGNORECASE)


def _re2_rewrite_to_java(body: str, shift: int) -> str:
    """RE2 rewrite-string → Java ``Matcher`` replacement: ``\\k`` group
    refs become ``$(k+shift)``, ``\\\\`` stays a literal backslash, and
    literal ``$`` is escaped (Java treats bare ``$`` as a group ref)."""
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n.isdigit():
                out.append(f"${int(n) + shift}")
                i += 2
                continue
            if n == "\\":
                out.append("\\\\")
                i += 2
                continue
        if c == "$":
            out.append("\\$")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite_regexp_replace(masked: str, literals: list[str]) -> str:
    """DuckDB ``regexp_replace`` replaces only the FIRST match unless the
    ``'g'`` option is given; Spark's replaces every match (its optional
    4th argument is a start POSITION — same name, different meaning, so
    passing through would silently change results both ways).

    Global form → Spark's 3-arg call, with ``i``/``s``/``m`` options
    folded into inline regex flags and literal replacements converted
    from RE2 rewrite syntax (``\\k`` group refs, literal ``$``) to Java
    ``Matcher`` syntax (``$k`` refs, ``\\$`` literal).

    First-match form → anchored single-match pattern: the user pattern is
    wrapped as ``^((?s).*?)(pat)`` so the leftmost occurrence is the ONLY
    possible match, the replacement becomes ``$1`` + user replacement
    with group refs shifted by 2 (prefix group, wrapper group). Requires
    a literal replacement (group refs must renumber); non-literal
    replacements keep the explicit refusal."""
    first_match_msg = (
        "DuckDB regexp_replace replaces only the FIRST match while Spark "
        "replaces every one; the first-match translation (anchored "
        "single-match wrapper) needs a string-literal replacement to "
        "renumber group references — add the 'g' option for global "
        "replace, or pass the replacement as a literal"
    )

    def new_lit(raw: str) -> str:
        literals.append(raw)
        return f"\x00{len(literals) - 1}\x00"

    def build(m, args):
        if len(args) not in (3, 4):
            return None
        flags = ""
        if len(args) == 4:
            oi = _literal_index(args[3])
            if oi is None:
                raise ValueError(
                    "regexp_replace options must be a string literal"
                )
            opts = literals[oi].strip("'").lower()
            flags = "".join(sorted(set(opts) - {"g"}))
            if not set(flags) <= {"i", "s", "m"}:
                raise ValueError(
                    f"regexp_replace options {opts!r} have no Spark "
                    "equivalent (translatable: g, i, s, m)"
                )
            if "g" in opts:
                pat = args[1]
                pi, ri = _literal_index(pat), _literal_index(args[2])
                if flags:
                    if pi is not None:
                        literals[pi] = f"'(?{flags}){literals[pi][1:-1]}'"
                    else:
                        pat = f"concat('(?{flags})', {pat})"
                repl = args[2]
                if ri is not None:
                    literals[ri] = f"'{_re2_rewrite_to_java(literals[ri][1:-1], 0)}'"
                return f"regexp_replace\x01({args[0]}, {pat}, {repl})"
        # First-match form (3-arg, or 4-arg options without 'g').
        ri = _literal_index(args[2])
        if ri is None:
            raise ValueError(first_match_msg)
        repl_body = literals[ri][1:-1]
        # \0 = whole match of the user pattern = wrapper group 2 (shift 2).
        java_repl = "$1" + _re2_rewrite_to_java(repl_body, 2)
        repl = new_lit(f"'{java_repl}'")
        flag_pfx = f"(?{flags})" if flags else ""
        pi = _literal_index(args[1])
        if pi is not None:
            pat_body = literals[pi][1:-1]
            pat = new_lit(f"'^((?s).*?)({flag_pfx}{pat_body})'")
        else:
            pat = (
                f"concat({new_lit(chr(39) + '^((?s).*?)(' + flag_pfx + chr(39))}, "
                f"{args[1]}, {new_lit(chr(39) + ')' + chr(39))})"
            )
        return f"regexp_replace\x01({args[0]}, {pat}, {repl})"

    return _rewrite_call(masked, _REGEXP_REPLACE_RE, build)


_DATE_PART_RE = re.compile(r"\bdate_?part\s*\(", re.IGNORECASE)
_EPOCH_FN_RE = re.compile(r"\bepoch\s*\(", re.IGNORECASE)


def _rewrite_date_part(masked: str, literals: list[str]) -> str:
    """Fields whose numbering diverges: DuckDB ``dow`` is 0=Sunday while
    Spark's is 1=Sunday; DuckDB ``isodow`` is 1=Monday..7 (Spark's
    ``weekday`` is 0=Monday..6); ``epoch`` (fractional seconds) is not a
    Spark extract field at all. Shared fields pass through (``datepart``
    spelled without the underscore is renamed afterwards)."""

    def build(m, args):
        if len(args) != 2:
            return None
        idx = _literal_index(args[0])
        if idx is None:
            return None
        part = literals[idx].strip("'").lower()
        if part == "dow":
            return f"(dayofweek({args[1]}) - 1)"
        if part == "isodow":
            return f"(weekday({args[1]}) + 1)"
        if part == "epoch":
            return (
                f"(unix_micros(cast({args[1]} as timestamp)) / 1e6)"
            )
        return None

    return _rewrite_call(masked, _DATE_PART_RE, build)


_SIMILAR_TO_RE = re.compile(r"\b(NOT\s+)?SIMILAR\s+TO\b", re.IGNORECASE)


def _rewrite_similar_to(masked: str, literals: list[str]) -> str:
    """``expr SIMILAR TO 'pattern'`` — DuckDB treats the pattern as a
    full-string-anchored regex (no LIKE wildcards: ``%`` is a literal);
    Spark RLIKE is partial-match, so anchor with ``^(?:...)$``."""
    while True:
        m = _SIMILAR_TO_RE.search(masked)
        if not m:
            return masked
        rm = re.match(r"\s*\x00(\d+)\x00", masked[m.end() :])
        if not rm:
            raise ValueError(
                "SIMILAR TO needs a string-literal pattern to translate "
                "(the anchors must be added at rewrite time)"
            )
        idx = int(rm.group(1))
        literals[idx] = f"'^(?:{literals[idx][1:-1]})$'"
        op = "NOT RLIKE" if m.group(1) else "RLIKE"
        masked = masked[: m.start()] + op + masked[m.end() :]


_LIST_SLICE_RE = re.compile(r"\b(?:list|array)_slice\s*\(", re.IGNORECASE)
_LIST_UNIQUE_RE = re.compile(r"\b(?:list|array)_unique\s*\(", re.IGNORECASE)
_LIST_DISTINCT_RE = re.compile(r"\b(?:list|array)_distinct\s*\(", re.IGNORECASE)
_LIST_HAS_ANY_RE = re.compile(r"\b(?:list|array)_has_any\s*\(", re.IGNORECASE)
_LIST_CONCAT_RE = re.compile(r"\b(?:list|array)_(?:concat|cat)\s*\(", re.IGNORECASE)
_STRUCT_PACK_RE = re.compile(r"\bstruct_pack\s*\(", re.IGNORECASE)


def _rewrite_list_slice(masked: str) -> str:
    """``list_slice(l, begin, end)``: 1-based, END-INCLUSIVE, negative
    indices count from the end, out-of-range clamps to empty — vs Spark
    ``slice(l, start, LENGTH)``. Normalize both bounds to absolute
    positions and clamp the derived length at 0."""

    def build(m, args):
        if len(args) == 4:
            raise ValueError(
                "list_slice with a step argument has no Spark equivalent"
            )
        if len(args) != 3:
            return None
        l, a, b = args
        ai = f"(CASE WHEN ({a}) < 0 THEN size({l}) + ({a}) + 1 ELSE ({a}) END)"
        bi = f"(CASE WHEN ({b}) < 0 THEN size({l}) + ({b}) + 1 ELSE ({b}) END)"
        start = f"greatest({ai}, 1)"
        return f"slice({l}, {start}, greatest({bi} - {start} + 1, 0))"

    return _rewrite_call(masked, _LIST_SLICE_RE, build)


def _rewrite_struct_pack(masked: str) -> str:
    """``struct_pack(k := v, ...)`` → ``named_struct('k', v, ...)``."""

    def build(m, args):
        pairs = []
        for item in args:
            im = re.match(
                r"([A-Za-z_][A-Za-z_0-9]*)\s*:=\s*(.+)$", item, re.DOTALL
            )
            if not im:
                raise ValueError(
                    "struct_pack arguments must be `name := value`"
                )
            pairs.append((im.group(1), im.group(2).strip()))
        return (
            "named_struct("
            + ", ".join(f"'{k}', {v}" for k, v in pairs)
            + ")"
        )

    return _rewrite_call(masked, _STRUCT_PACK_RE, build)


# Vector math over embedding lists (list_* and array_* spellings): exact
# double-typed HOF expansions — the shim's bridge for DuckDB's VSS-style
# queries over the embeddings table.
_VEC_FN_RE = re.compile(
    r"\b(?:list|array)_(cosine_similarity|cosine_distance|inner_product|"
    r"dot_product|negative_inner_product|distance)\s*\(",
    re.IGNORECASE,
)


def _rewrite_vector_fns(masked: str) -> str:
    def dot(a, b):
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "cast(0 as double), (s, v) -> s + v)"
        )

    def norm(v):
        return (
            f"sqrt(aggregate(transform({v}, x -> x * x), "
            "cast(0 as double), (s, v) -> s + v))"
        )

    def build(m, args):
        if len(args) != 2:
            return None
        kind = m.group(1).lower()
        a, b = args
        if kind in ("inner_product", "dot_product"):
            return dot(a, b)
        if kind == "negative_inner_product":
            return f"(- {dot(a, b)})"
        if kind == "cosine_similarity":
            return f"({dot(a, b)} / ({norm(a)} * {norm(b)}))"
        if kind == "cosine_distance":
            return f"(1.0 - {dot(a, b)} / ({norm(a)} * {norm(b)}))"
        return (
            f"sqrt(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as double), (s, v) -> s + v))"
        )

    return _rewrite_call(masked, _VEC_FN_RE, build)


_TIME_BUCKET_RE = re.compile(r"\btime_bucket\s*\(", re.IGNORECASE)
# DuckDB's documented origins: 2000-01-03 00:00:00 (a Monday) for
# sub-month widths, 2000-01-01 for month-quantized widths.
_TB_ORIGIN_SEC = 946857600
_TB_UNIT_SEC = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _rewrite_time_bucket(masked: str, literals: list[str]) -> str:
    """``time_bucket(INTERVAL 'n unit', ts)`` → origin-anchored epoch
    arithmetic (``pmod`` keeps floor semantics before the origin).
    Month/year widths bucket on the month index instead. The result is a
    TIMESTAMP even for DATE inputs (DuckDB preserves DATE); three-argument
    origin/offset forms are refused."""

    def build(m, args):
        if len(args) != 2:
            raise ValueError(
                "time_bucket with an explicit origin/offset is not "
                "translated; use the two-argument form"
            )
        iv, ts = args
        im = re.fullmatch(r"INTERVAL\s+\x00(\d+)\x00", iv, re.IGNORECASE)
        if im:
            body = literals[int(im.group(1))].strip("'").strip()
        else:
            um = re.fullmatch(r"INTERVAL\s+(\d+\s+[A-Za-z]+)", iv, re.IGNORECASE)
            if not um:
                raise ValueError(
                    "time_bucket needs a literal INTERVAL bucket width"
                )
            body = um.group(1)
        bm = re.fullmatch(
            r"(\d+)\s*(second|minute|hour|day|week|month|year)s?",
            body,
            re.IGNORECASE,
        )
        if not bm:
            raise ValueError(
                f"unsupported time_bucket width '{body}' (single-unit "
                "second/minute/hour/day/week/month/year widths translate)"
            )
        n, unit = int(bm.group(1)), bm.group(2).lower()
        if unit in ("month", "year"):
            months = n * (12 if unit == "year" else 1)
            mi = f"((year({ts}) - 2000) * 12 + month({ts}) - 1)"
            return (
                f"cast(add_months(DATE '2000-01-01', "
                f"{mi} - pmod({mi}, {months})) as timestamp)"
            )
        width = n * _TB_UNIT_SEC[unit]
        t = f"unix_seconds(cast({ts} as timestamp))"
        return (
            f"timestamp_seconds({t} - pmod({t} - {_TB_ORIGIN_SEC}, {width}))"
        )

    return _rewrite_call(masked, _TIME_BUCKET_RE, build)


# ---------------------------------------------------------------------------
# Round-3 tail batch: the remaining DuckDB function surface a migrated
# flow can carry — silent-flip fixes (flatten's NULL-sublist skip, 2-arg
# trim's reversed arguments, bias-corrected skewness/kurtosis, coarse
# date_trunc's DATE return type) plus exact translations for the list_*,
# string-distance, calendar-part and Kahan-aggregate families. Every
# mapping below is differentially pinned against DuckDB in
# tests/test_dialect_bank.py.
# ---------------------------------------------------------------------------
_FLATTEN_RE = re.compile(r"\bflatten\s*\(", re.IGNORECASE)
_TRIM2_RE = re.compile(r"(?<![lr])\btrim\s*\(", re.IGNORECASE)
_SKEWNESS_RE = re.compile(r"\bskewness\s*\(", re.IGNORECASE)
_KURTOSIS_RE = re.compile(r"\bkurtosis\s*\(", re.IGNORECASE)
_KURTOSIS_POP_RE = re.compile(r"\bkurtosis_pop\s*\(", re.IGNORECASE)
_DATE_TRUNC_TYPE_RE = re.compile(r"\bdate_?trunc\s*\(", re.IGNORECASE)
# Parts at day granularity or coarser, where DuckDB returns DATE while
# Spark's date_trunc always returns TIMESTAMP (value agrees, type flips).
_DATE_TRUNC_COARSE = {
    "day", "week", "month", "quarter", "year",
    "decade", "century", "millennium",
}
_ENDS_WITH_RE = re.compile(r"\bends_with\s*\(", re.IGNORECASE)
_STRLEN_RE = re.compile(r"\bstrlen\s*\(", re.IGNORECASE)
_TO_HEX_RE = re.compile(r"\bto_hex\s*\(", re.IGNORECASE)
_FROM_HEX_RE = re.compile(r"\bfrom_hex\s*\(", re.IGNORECASE)
_SHA256_RE = re.compile(r"\bsha256\s*\(", re.IGNORECASE)
_UNICODE_FN_RE = re.compile(r"\b(?:unicode|ord)\s*\(", re.IGNORECASE)
_XOR_FN_RE = re.compile(r"\bxor\s*\(", re.IGNORECASE)
_EVEN_RE = re.compile(r"\beven\s*\(", re.IGNORECASE)
_ROUND_EVEN_RE = re.compile(r"\bround_even\s*\(", re.IGNORECASE)
_FDIV_RE = re.compile(r"\bfdiv\s*\(", re.IGNORECASE)
_FMOD_RE = re.compile(r"\bfmod\s*\(", re.IGNORECASE)
_MAKE_TS_RE = re.compile(r"\bmake_timestamp\s*\(", re.IGNORECASE)
_YEARWEEK_RE = re.compile(r"\byearweek\s*\(", re.IGNORECASE)
_CENTURY_RE = re.compile(r"\bcentury\s*\(", re.IGNORECASE)
_DECADE_RE = re.compile(r"\bdecade\s*\(", re.IGNORECASE)
_MILLENNIUM_RE = re.compile(r"\bmillennium\s*\(", re.IGNORECASE)
_MICROSECOND_RE = re.compile(r"\bmicrosecond\s*\(", re.IGNORECASE)
_MILLISECOND_RE = re.compile(r"\bmillisecond\s*\(", re.IGNORECASE)
_JSON_KEYS_RE = re.compile(r"\bjson_keys\s*\(", re.IGNORECASE)
_JSON_VALID_RE = re.compile(r"\bjson_valid\s*\(", re.IGNORECASE)
_HAMMING_RE = re.compile(r"\b(?:hamming|mismatches)\s*\(", re.IGNORECASE)
_JACCARD_RE = re.compile(r"\bjaccard\s*\(", re.IGNORECASE)
_LIST_ZIP_RE = re.compile(r"\b(?:list|array)_zip\s*\(", re.IGNORECASE)
_LIST_SORT_ARGS_RE = re.compile(r"\b(?:list|array)_sort\s*\(", re.IGNORECASE)
_LIST_ELEMENT_RE = re.compile(
    r"\b(?:list_element|list_extract|array_extract)\s*\(", re.IGNORECASE
)
_LIST_COUNT_RE = re.compile(r"\blist_count\s*\(", re.IGNORECASE)
_LIST_AVG_RE = re.compile(r"\blist_avg\s*\(", re.IGNORECASE)
_LIST_MEDIAN_RE = re.compile(r"\blist_median\s*\(", re.IGNORECASE)
_LIST_ANY_VALUE_RE = re.compile(r"\blist_any_value\s*\(", re.IGNORECASE)
_LIST_FIRST_RE = re.compile(r"\blist_first\s*\(", re.IGNORECASE)
_LIST_LAST_RE = re.compile(r"\blist_last\s*\(", re.IGNORECASE)
_FSUM_RE = re.compile(r"\bfsum\s*\(", re.IGNORECASE)
_FAVG_RE = re.compile(r"\bfavg\s*\(", re.IGNORECASE)
_GEOMEAN_RE = re.compile(r"\b(?:geomean|geometric_mean)\s*\(", re.IGNORECASE)


def _null_lit(arg: str) -> bool:
    """A bare NULL literal argument: DuckDB types it as NULL and
    propagates, Spark cannot analysis-resolve HOFs over it — the
    rewrites short-circuit to NULL (or empty, where DuckDB says so)."""
    return arg.strip().upper() == "NULL"

def _rewrite_r3_tail_fns(masked: str, literals: list[str]) -> str:
    """Batch of exact DuckDB→Spark rewrites (see the module table);
    differentially verified in tests/test_dialect_bank.py."""
    # DuckDB flatten SKIPS null sublists ([[1],NULL,[2]] → [1,2]); Spark
    # flatten propagates NULL for the whole result.
    masked = _rewrite_call(
        masked,
        _FLATTEN_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else (
                f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE "
                f"flatten\x01(filter({a[0]}, _fl -> _fl IS NOT NULL)) END)"
                if len(a) == 1
                else None
            )
        ),
    )
    # 2-arg trim has REVERSED arguments in Spark (same flip as ltrim/
    # rtrim): trim('xxaxx','x') silently returns '' instead of 'a'.
    masked = _rewrite_call(
        masked,
        _TRIM2_RE,
        lambda m, a: (
            f"trim\x01(BOTH {a[1]} FROM {a[0]})" if len(a) == 2 else None
        ),
    )
    # kurtosis_pop == Spark's kurtosis (population excess); rename FIRST
    # so the sample-correction below cannot touch it (the marker breaks
    # the `kurtosis\s*\(` match).
    masked = _KURTOSIS_POP_RE.sub("kurtosis\x01(", masked)
    # DuckDB skewness/kurtosis are BIAS-CORRECTED sample statistics;
    # Spark's are population statistics. Exact closed forms:
    #   g1' = g1 · √(n(n−1))/(n−2)          (NULL when n < 3)
    #   g2' = (n−1)/((n−2)(n−3)) · ((n+1)·g2 + 6)   (NULL when n < 4)
    # Zero-variance inputs are NULL in both engines already.
    masked = _rewrite_call(
        masked,
        _SKEWNESS_RE,
        lambda m, a: (
            f"(CASE WHEN count({a[0]}) < 3 THEN NULL ELSE "
            f"skewness\x01({a[0]}) * sqrt(count({a[0]}) * (count({a[0]}) - 1.0))"
            f" / (count({a[0]}) - 2.0) END)"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _KURTOSIS_RE,
        lambda m, a: (
            f"(CASE WHEN count({a[0]}) < 4 THEN NULL ELSE "
            f"((count({a[0]}) - 1.0) / ((count({a[0]}) - 2.0) * "
            f"(count({a[0]}) - 3.0))) * ((count({a[0]}) + 1.0) * "
            f"kurtosis\x01({a[0]}) + 6.0) END)"
            if len(a) == 1
            else None
        ),
    )

    # date_trunc to a part of day granularity or coarser returns DATE in
    # DuckDB (even for TIMESTAMP inputs) but TIMESTAMP in Spark — the
    # value agrees, the type flips. Literal parts get the cast; sub-day
    # parts and non-literal parts pass through (both engines: TIMESTAMP).
    def _dt_build(m, a):
        if len(a) != 2:
            return None
        idx = _literal_index(a[0])
        if idx is None or literals[idx][1:-1].lower() not in _DATE_TRUNC_COARSE:
            return None
        return f"cast(date_trunc\x01({a[0]}, {a[1]}) as date)"

    masked = _rewrite_call(masked, _DATE_TRUNC_TYPE_RE, _dt_build)

    # Straight renames with identical semantics.
    masked = _ENDS_WITH_RE.sub("endswith\x01(", masked)
    masked = _STRLEN_RE.sub("octet_length\x01(", masked)  # BYTE length
    masked = _TO_HEX_RE.sub("hex\x01(", masked)
    masked = _FROM_HEX_RE.sub("unhex\x01(", masked)
    # round_even: both half-even; DuckDB returns DOUBLE for any numeric
    # input, and Spark's bround matches DuckDB's exact-decimal rounding
    # on DECIMAL sources (DOUBLE sources inherit the round(DOUBLE, n)
    # scaled-arithmetic caveat documented above).
    masked = _rewrite_call(
        masked,
        _ROUND_EVEN_RE,
        lambda m, a: (
            f"cast(bround\x01({a[0]}, {a[1]}) as double)"
            if len(a) == 2
            else None
        ),
    )
    masked = _JSON_KEYS_RE.sub("json_object_keys\x01(", masked)
    masked = _rewrite_call(
        masked,
        _SHA256_RE,
        lambda m, a: f"sha2({a[0]}, 256)" if len(a) == 1 else None,
    )
    # unicode(): codepoint of the first character, -1 for the empty
    # string (Spark ascii gives 0 there).
    masked = _rewrite_call(
        masked,
        _UNICODE_FN_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL WHEN ({a[0]}) = \x02\x02 "
            f"THEN -1 ELSE ascii({a[0]}) END)"
            if len(a) == 1
            else None
        ),
    )
    # DuckDB's xor() FUNCTION is Spark's `^` operator (safe to emit here:
    # the input-side `^`-is-POWER refusal already ran).
    masked = _rewrite_call(
        masked,
        _XOR_FN_RE,
        lambda m, a: f"(({a[0]}) ^ ({a[1]}))" if len(a) == 2 else None,
    )
    # even(x): round away from zero to the next even integer (DOUBLE).
    masked = _rewrite_call(
        masked,
        _EVEN_RE,
        lambda m, a: (
            f"cast(sign({a[0]}) * ceil(abs({a[0]}) * 0.5) * 2 as double)"
            if len(a) == 1
            else None
        ),
    )
    # fdiv/fmod: FLOORED division/modulus as DOUBLE, NULL on zero
    # divisors (the emitted `/` picks up the try_divide rewrite below).
    masked = _rewrite_call(
        masked,
        _FDIV_RE,
        lambda m, a: (
            f"cast(floor(({a[0]}) / ({a[1]})) as double)"
            if len(a) == 2
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _FMOD_RE,
        lambda m, a: (
            f"cast(({a[0]}) - ({a[1]}) * floor(({a[0]}) / ({a[1]})) as double)"
            if len(a) == 2
            else None
        ),
    )
    # 1-arg make_timestamp takes epoch MICROS in DuckDB.
    masked = _rewrite_call(
        masked,
        _MAKE_TS_RE,
        lambda m, a: f"timestamp_micros({a[0]})" if len(a) == 1 else None,
    )
    # Calendar parts Spark lacks as functions (CE years; BC diverges).
    masked = _rewrite_call(
        masked,
        _YEARWEEK_RE,
        lambda m, a: (
            f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + weekofyear({a[0]}))"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _CENTURY_RE,
        lambda m, a: (
            f"cast((year({a[0]}) + 99) div 100 as bigint)"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _DECADE_RE,
        lambda m, a: (
            f"cast(year({a[0]}) div 10 as bigint)" if len(a) == 1 else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _MILLENNIUM_RE,
        lambda m, a: (
            f"cast((year({a[0]}) + 999) div 1000 as bigint)"
            if len(a) == 1
            else None
        ),
    )
    # DuckDB's sub-minute parts INCLUDE the seconds component:
    # microsecond('…:03.456789') = 3456789, millisecond = 3456.
    masked = _rewrite_call(
        masked,
        _MICROSECOND_RE,
        lambda m, a: (
            f"cast(extract(SECOND FROM {a[0]}) * 1000000 as bigint)"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _MILLISECOND_RE,
        lambda m, a: (
            f"cast(floor(extract(SECOND FROM {a[0]}) * 1000) as bigint)"
            if len(a) == 1
            else None
        ),
    )
    # json_valid accepts ANY top-level JSON value ('3', 'null', …);
    # try_parse_json returns a non-NULL VARIANT for each of those and
    # SQL NULL only on malformed input.
    masked = _rewrite_call(
        masked,
        _JSON_VALID_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE "
            f"try_parse_json({a[0]}) IS NOT NULL END)"
            if len(a) == 1
            else None
        ),
    )
    # hamming/mismatches: positional mismatch count; DuckDB ERRORS on
    # empty or unequal-length inputs — assert_true reproduces the error
    # loudly (NULL inputs short-circuit to NULL first, as in DuckDB).
    masked = _rewrite_call(
        masked,
        _HAMMING_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"WHEN assert_true(length({a[0]}) = length({a[1]}) AND "
            f"length({a[0]}) > 0) IS NULL THEN "
            f"cast(size(filter(sequence(1, length({a[0]})), _hx -> "
            f"substring({a[0]}, _hx, 1) <> substring({a[1]}, _hx, 1))) "
            f"as bigint) END)"
            if len(a) == 2
            else None
        ),
    )
    # jaccard: CHARACTER-SET Jaccard similarity (case-sensitive); DuckDB
    # errors on empty inputs.
    masked = _rewrite_call(
        masked,
        _JACCARD_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"WHEN assert_true(length({a[0]}) > 0 AND length({a[1]}) > 0) "
            f"IS NULL THEN "
            f"size(array_intersect(array_distinct(split\x01({a[0]}, \x02\x02)), "
            f"array_distinct(split\x01({a[1]}, \x02\x02)))) / "
            f"size(array_union(array_distinct(split\x01({a[0]}, \x02\x02)), "
            f"array_distinct(split\x01({a[1]}, \x02\x02)))) END)"
            if len(a) == 2
            else None
        ),
    )

    # list_zip: n-ary zip padded to the LONGEST input with NULLs, struct
    # fields named list_1..list_n (DuckDB's names); a NULL list behaves
    # as empty. Spark's arrays_zip names fields positionally, so build
    # the structs explicitly.
    def _zip_build(m, a):
        if len(a) < 2:
            return None
        if all(_null_lit(x) for x in a):
            return "array()"
        sizes = ", ".join(f"size({x})" for x in a)
        fields = ", ".join(
            f"\x02list_{i + 1}\x02, try_element_at({x}, _zi)"
            for i, x in enumerate(a)
        )
        return (
            f"(CASE WHEN coalesce(greatest({sizes}), 0) <= 0 THEN array() "
            f"ELSE transform(sequence(1, greatest({sizes})), _zi -> "
            f"named_struct({fields})) END)"
        )

    masked = _rewrite_call(masked, _LIST_ZIP_RE, _zip_build)

    # list_sort with explicit direction / null-order literals (the 1-arg
    # form matches array_sort — ASC NULLS LAST — and stays a rename).
    def _sort_build(m, a):
        if len(a) not in (2, 3):
            return None
        if _null_lit(a[0]):
            return "NULL"
        if any("->" in arg for arg in a[1:]):
            return None  # Spark-native comparator lambda (emitted by the
            # ordered-aggregation rewrite or user-written): pass through.
        parts = []
        for arg in a[1:]:
            idx = _literal_index(arg)
            if idx is None:
                raise ValueError(
                    "list_sort with a non-literal direction/null-order "
                    "cannot be translated; inline the modifiers"
                )
            parts.extend(literals[idx][1:-1].upper().split())
        desc = "DESC" in parts
        nulls_first = "FIRST" in parts
        l = a[0]
        nn = f"array_sort\x01(filter({l}, _ls -> _ls IS NOT NULL))"
        if desc:
            nn = f"reverse({nn})"
        nulls = f"filter({l}, _ls -> _ls IS NULL)"
        inner = f"{nulls}, {nn}" if nulls_first else f"{nn}, {nulls}"
        return (
            f"(CASE WHEN ({l}) IS NULL THEN NULL ELSE "
            f"concat\x01({inner}) END)"
        )

    masked = _rewrite_call(masked, _LIST_SORT_ARGS_RE, _sort_build)

    # list_element/list_extract/array_extract share the subscript
    # semantics: 1-based, NULL out of bounds, negative from the end,
    # index 0 → NULL (nullif guards Spark's index-0 error).
    def _elem_build(m, a):
        if len(a) != 2:
            return None
        idx = a[1]
        if not re.fullmatch(r"-?[1-9]\d*", idx):
            idx = f"nullif({idx}, 0)"
        return f"try_element_at({a[0]}, {idx})"

    masked = _rewrite_call(masked, _LIST_ELEMENT_RE, _elem_build)

    # Aggregate-style list folds (all skip NULL elements, as DuckDB's
    # list_* aggregate family does).
    masked = _rewrite_call(
        masked,
        _LIST_COUNT_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"size(filter({a[0]}, _lc -> _lc IS NOT NULL))"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _LIST_AVG_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"try_divide(aggregate({a[0]}, cast(0.0 as double), "
            f"(_aa, _ax) -> _aa + coalesce(cast(_ax as double), 0.0d)), "
            f"size(filter({a[0]}, _an -> _an IS NOT NULL)))"
            if len(a) == 1
            else None
        ),
    )

    # list_median: interpolating median over non-null elements as DOUBLE.
    # KNOWN divergence (same family as the round(DOUBLE) pass-through):
    # DECIMAL-typed lists keep DuckDB's source scale via truncation —
    # numeric int/double lists match exactly.
    def _median_build(m, a):
        if len(a) != 1:
            return None
        if _null_lit(a[0]):
            return "NULL"
        nn = f"array_sort\x01(filter({a[0]}, _lm -> _lm IS NOT NULL))"
        n = f"size({nn})"
        return (
            f"(CASE WHEN coalesce({n}, 0) = 0 THEN NULL "
            f"WHEN pmod({n}, 2) = 1 THEN "
            f"cast(element_at({nn}, cast(({n} + 1) div 2 as int)) as double) "
            f"ELSE (cast(element_at({nn}, cast({n} div 2 as int)) as double) + "
            f"cast(element_at({nn}, cast({n} div 2 + 1 as int)) as double)) "
            f"/ 2.0 END)"
        )

    masked = _rewrite_call(masked, _LIST_MEDIAN_RE, _median_build)
    masked = _rewrite_call(
        masked,
        _LIST_ANY_VALUE_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"try_element_at(filter({a[0]}, _lv -> _lv IS NOT NULL), 1)"
            if len(a) == 1
            else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _LIST_FIRST_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"try_element_at({a[0]}, 1)" if len(a) == 1 else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _LIST_LAST_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"try_element_at({a[0]}, -1)" if len(a) == 1 else None
        ),
    )
    # Kahan-summation aggregates: same math, DOUBLE result; the
    # compensated error term is below the repo's 6-decimal compare.
    masked = _rewrite_call(
        masked,
        _FSUM_RE,
        lambda m, a: f"sum(cast({a[0]} as double))" if len(a) == 1 else None,
    )
    masked = _rewrite_call(
        masked,
        _FAVG_RE,
        lambda m, a: f"avg(cast({a[0]} as double))" if len(a) == 1 else None,
    )
    # geomean = exp(mean(ln x)); exact for the positive domain DuckDB
    # accepts. DIVERGENCE ONLY WHERE DUCKDB ERRORS: x ≤ 0 raises there,
    # while Spark's ln yields NULL and the row drops out of the mean.
    masked = _rewrite_call(
        masked,
        _GEOMEAN_RE,
        lambda m, a: (
            f"exp(avg(ln(cast({a[0]} as double))))" if len(a) == 1 else None
        ),
    )
    return masked


# ---------------------------------------------------------------------------
# Round-3 batch 2: operators and list/interval/base utilities.
# ---------------------------------------------------------------------------
_POW_OP_RE = re.compile(r"\*\*")
_QUANTIFIED_CMP_RE = re.compile(
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(", re.IGNORECASE
)
_SUBQUERY_HEAD_RE = re.compile(r"^\s*(SELECT|FROM|WITH|VALUES)\b", re.IGNORECASE)
_TO_BASE_RE = re.compile(r"\bto_base\s*\(", re.IGNORECASE)
_FROM_BASE64_RE = re.compile(r"\bfrom_base64\s*\(", re.IGNORECASE)
_ENCODE_RE = re.compile(r"\bencode\s*\(", re.IGNORECASE)
_DECODE_RE = re.compile(r"\bdecode\s*\(", re.IGNORECASE)
# Interval constructors → make_interval(years, months, weeks, days,
# hours, mins, secs) slot position (ms/us scale into the seconds slot).
_TO_INTERVAL_RE = re.compile(
    r"\bto_(years|months|weeks|days|hours|minutes|seconds|milliseconds|"
    r"microseconds)\s*\(",
    re.IGNORECASE,
)
_LOCALTIMESTAMP_RE = re.compile(r"\bcurrent_localtimestamp\s*\(", re.IGNORECASE)
_LIST_RESIZE_RE = re.compile(r"\b(?:list|array)_resize\s*\(", re.IGNORECASE)
_LIST_SELECT_RE = re.compile(r"\b(?:list|array)_select\s*\(", re.IGNORECASE)
_LIST_WHERE_RE = re.compile(r"\b(?:list|array)_where\s*\(", re.IGNORECASE)
_LIST_GRADE_UP_RE = re.compile(r"\b(?:list|array)_grade_up\s*\(", re.IGNORECASE)
_LIST_REVERSE_SORT_RE = re.compile(r"\b(?:list|array)_reverse_sort\s*\(", re.IGNORECASE)
_APPROX_QUANTILE_RE = re.compile(r"\bapprox_quantile\s*\(", re.IGNORECASE)
_REGEXP_ESCAPE_RE = re.compile(r"\bregexp_escape\s*\(", re.IGNORECASE)


# Keywords whose trailing position makes a following +/- UNARY (the
# operator-context cases are already handled by _absorb_unary_sign).
_UNARY_CONTEXT_KW_RE = re.compile(
    r"\b(SELECT|WHERE|WHEN|THEN|ELSE|AND|OR|NOT|ON|HAVING|BY|IN|CASE|"
    r"RETURNING|LIMIT|OFFSET|QUALIFY|DISTINCT|UNION|EXCEPT|INTERSECT|"
    r"VALUES|SET|JOIN|FROM|LIKE|BETWEEN|IS|ALL)\s*$",
    re.IGNORECASE,
)


def _absorb_keyword_unary_sign(masked: str, start: int) -> int:
    """Extend ``start`` over a +/- whose left context is a clause
    keyword (SELECT -2, WHERE -x, THEN -1, ...), making it unary."""
    j = start
    while j > 0 and masked[j - 1].isspace():
        j -= 1
    if j > 0 and masked[j - 1] in "+-":
        if _UNARY_CONTEXT_KW_RE.search(masked, 0, j - 1) or j == 1:
            return j - 1
    return start


def _rewrite_pow_op(masked: str) -> str:
    """DuckDB ``a ** b`` is POWER — LEFT-associative, tighter than the
    multiplicative operators, looser than unary minus (``-2 ** 2`` = 4,
    ``2 ** 3 ** 2`` = 64, ``3 * 2 ** 2`` = 12). Rewriting the leftmost
    occurrence first preserves all three properties."""
    while True:
        m = _POW_OP_RE.search(masked)
        if not m:
            return masked
        left_start = _absorb_atom_left(masked, m.start())
        left_start = _absorb_keyword_unary_sign(masked, left_start)
        right_end = _absorb_atom_right(masked, m.end())
        a = masked[left_start : m.start()].strip()
        b = masked[m.end() : right_end].strip()
        if not a or not b:
            raise ValueError(
                "could not parse the operands of '**' (DuckDB POWER); "
                "write power(a, b) explicitly"
            )
        masked = (
            masked[:left_start] + f"power({a}, {b})" + masked[right_end:]
        )


def _rewrite_quantified_cmp(masked: str) -> str:
    """``x op ANY(arr)`` / ``x op ALL(arr)`` over an ARRAY operand →
    ``exists(arr, e -> x op e)`` / ``forall(...)`` — Spark's higher-order
    predicates implement exactly DuckDB's three-valued semantics (TRUE
    beats NULL for ANY, FALSE beats NULL for ALL, empty → FALSE/TRUE).
    Subquery operands are refused (Spark has no quantified-subquery
    comparison): rewrite as IN / EXISTS."""
    pos = 0
    while True:
        m = _QUANTIFIED_CMP_RE.search(masked, pos)
        if not m:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _find_matching(masked, open_idx, "(", ")")
        if close < 0:
            return masked
        body = masked[open_idx + 1 : close].strip()
        if _SUBQUERY_HEAD_RE.match(body):
            raise ValueError(
                "quantified subquery comparisons (op ANY/ALL (SELECT ...)) "
                "have no Spark spelling; rewrite as IN (subquery) or "
                "EXISTS with the comparison inside"
            )
        # Scan LEFT for the comparison LHS: a full arithmetic chain, up
        # to a top-level boolean/clause boundary. A +/- whose own left
        # context is a keyword or chain start is UNARY: absorb the sign
        # and stop (WHERE -2 = ANY(...) must not swallow WHERE).
        lhs_start = _absorb_atom_left(masked, m.start(1))
        while True:
            j = lhs_start
            while j > 0 and masked[j - 1].isspace():
                j -= 1
            if j > 0 and masked[j - 1] in "+-*/%&|":
                if masked[j - 1] in "+-":
                    k = j - 1
                    while k > 0 and masked[k - 1].isspace():
                        k -= 1
                    if k == 0 or _UNARY_CONTEXT_KW_RE.search(
                        masked, 0, k
                    ) or masked[k - 1] in "(,[<>=*/%&|+-":
                        lhs_start = j - 1
                        break
                nxt = _absorb_atom_left(masked, j - 1)
                if nxt < j - 1:
                    lhs_start = nxt
                    continue
            break
        lhs = masked[lhs_start : m.start(1)].strip()
        if not lhs:
            raise ValueError(
                "could not parse the left side of an ANY/ALL comparison; "
                "parenthesize it"
            )
        op = "<>" if m.group(1) == "!=" else m.group(1)
        hof = "forall" if m.group(2).lower() == "all" else "exists"
        repl = f"{hof}({body}, _qe -> ({lhs}) {op} _qe)"
        masked = masked[:lhs_start] + repl + masked[close + 1 :]
        pos = lhs_start + len(repl)


def _rewrite_r3_batch2(masked: str, literals: list[str]) -> str:
    masked = _rewrite_pow_op(masked)
    masked = _rewrite_quantified_cmp(masked)

    # to_base(x, b[, min_len]): non-negative only (DuckDB errors on
    # negatives; conv's two's-complement there would silently diverge).
    def _to_base_build(m, a):
        if len(a) not in (2, 3):
            return None
        core = f"conv({a[0]}, 10, {a[1]})"
        if len(a) == 3:
            core = (
                f"(CASE WHEN length({core}) >= ({a[2]}) THEN {core} "
                f"ELSE lpad({core}, cast({a[2]} as int), \x020\x02) END)"
            )
        return (
            f"(CASE WHEN assert_true(({a[0]}) >= 0) IS NULL "
            f"THEN {core} END)"
        )

    masked = _rewrite_call(masked, _TO_BASE_RE, _to_base_build)
    masked = _FROM_BASE64_RE.sub("unbase64\x01(", masked)
    # 1-arg encode/decode are UTF-8 in DuckDB; Spark requires the charset.
    masked = _rewrite_call(
        masked,
        _ENCODE_RE,
        lambda m, a: (
            f"encode\x01({a[0]}, \x02utf-8\x02)" if len(a) == 1 else None
        ),
    )
    masked = _rewrite_call(
        masked,
        _DECODE_RE,
        lambda m, a: (
            f"decode\x01({a[0]}, \x02utf-8\x02)" if len(a) == 1 else None
        ),
    )

    # Day-time units build a DayTimeIntervalType (make_dt_interval) so
    # DATE + interval promotes to TIMESTAMP exactly as DuckDB does;
    # year/month units need make_ym_interval, where Spark's DATE + ym
    # stays DATE (value-equal, type flips — documented divergence).
    def _interval_build(m, a):
        if len(a) != 1:
            return None
        unit = m.group(1).lower()
        if unit == "years":
            return f"make_ym_interval({a[0]})"
        if unit == "months":
            return f"make_ym_interval(0, {a[0]})"
        if unit == "weeks":
            return f"make_dt_interval(({a[0]}) * 7)"
        if unit == "milliseconds":
            return f"make_dt_interval(0, 0, 0, ({a[0]}) * 0.001)"
        if unit == "microseconds":
            return f"make_dt_interval(0, 0, 0, ({a[0]}) * 0.000001)"
        slot = {"days": 0, "hours": 1, "minutes": 2, "seconds": 3}[unit]
        args = ["0"] * slot + [f"({a[0]})"]
        return f"make_dt_interval({', '.join(args)})"

    masked = _rewrite_call(masked, _TO_INTERVAL_RE, _interval_build)
    masked = _LOCALTIMESTAMP_RE.sub("localtimestamp\x01(", masked)

    # list_resize(l, n[, fill]): truncate or pad to n (fill NULL).
    def _resize_build(m, a):
        if len(a) not in (2, 3):
            return None
        if a[0].upper() == "NULL":  # untyped literal cannot resolve
            return "NULL"
        fill = a[2] if len(a) == 3 else "NULL"
        return (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
            f"WHEN coalesce(({a[1]}), 0) <= 0 THEN array() "
            f"ELSE transform(sequence(1, cast({a[1]} as int)), _ri -> "
            f"CASE WHEN _ri <= size({a[0]}) THEN element_at({a[0]}, _ri) "
            f"ELSE {fill} END) END)"
        )

    masked = _rewrite_call(masked, _LIST_RESIZE_RE, _resize_build)
    # list_select(l, idxs): 1-based gather; 0/negative/OOB → NULL element
    # (NO negative-from-end here, unlike subscripts); NULL index ERRORS.
    masked = _rewrite_call(
        masked,
        _LIST_SELECT_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 2 and (_null_lit(a[0]) or _null_lit(a[1]))
            else f"transform({a[1]}, _si -> CASE WHEN assert_true(_si IS NOT "
            f"NULL) IS NULL THEN (CASE WHEN _si >= 1 THEN "
            f"try_element_at({a[0]}, cast(_si as int)) END) END)"
            if len(a) == 2
            else None
        ),
    )
    # list_where(l, mask): keep l[i] where mask[i]; the MASK's length
    # bounds the result (shorter mask truncates, longer pads NULLs);
    # NULL mask elements ERROR.
    masked = _rewrite_call(
        masked,
        _LIST_WHERE_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 2 and (_null_lit(a[0]) or _null_lit(a[1]))
            else f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"WHEN size({a[1]}) = 0 THEN array() "
            f"ELSE transform(filter(sequence(1, cast(size({a[1]}) as int)), "
            f"_wi -> CASE WHEN assert_true(try_element_at({a[1]}, _wi) "
            f"IS NOT NULL) IS NULL THEN try_element_at({a[1]}, _wi) END), "
            f"_wi -> try_element_at({a[0]}, _wi)) END)"
            if len(a) == 2
            else None
        ),
    )

    # list_grade_up(l): 1-based permutation that ascending-sorts l
    # (nulls last, ties stable by position) — explicit comparator over
    # (value, index) structs.
    def _grade_build(m, a):
        if len(a) != 1:
            return None
        if _null_lit(a[0]):
            return "NULL"
        pairs = (
            f"transform(sequence(1, cast(size({a[0]}) as int)), _gi -> "
            f"struct(try_element_at({a[0]}, _gi) as v, _gi as i))"
        )
        cmp = (
            "(_gx, _gy) -> CASE "
            "WHEN _gx.v IS NULL AND _gy.v IS NULL THEN "
            "(CASE WHEN _gx.i < _gy.i THEN -1 ELSE 1 END) "
            "WHEN _gx.v IS NULL THEN 1 WHEN _gy.v IS NULL THEN -1 "
            "WHEN _gx.v < _gy.v THEN -1 WHEN _gx.v > _gy.v THEN 1 "
            "WHEN _gx.i < _gy.i THEN -1 ELSE 1 END"
        )
        return (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
            f"WHEN size({a[0]}) = 0 THEN array() "
            f"ELSE transform(array_sort\x01({pairs}, {cmp}), _gs -> _gs.i) "
            f"END)"
        )

    masked = _rewrite_call(masked, _LIST_GRADE_UP_RE, _grade_build)
    # list_reverse_sort = list_sort(l, 'DESC'): descending, nulls LAST.
    masked = _rewrite_call(
        masked,
        _LIST_REVERSE_SORT_RE,
        lambda m, a: (
            "NULL"
            if len(a) == 1 and _null_lit(a[0])
            else f"(CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE "
            f"concat\x01(reverse(array_sort\x01(filter({a[0]}, "
            f"_rs -> _rs IS NOT NULL))), "
            f"filter({a[0]}, _rs -> _rs IS NULL)) END)"
            if len(a) == 1
            else None
        ),
    )
    # approx_quantile → approx_percentile: both t-digest-family sketches,
    # APPROXIMATE — values may legitimately differ between engines (same
    # contract as approx_count_distinct's pass-through).
    masked = _APPROX_QUANTILE_RE.sub("approx_percentile(", masked)

    # regexp_escape is RE2's QuoteMeta: EVERY ASCII char outside
    # [A-Za-z0-9_] gets a backslash (space, comma, controls included;
    # bytes ≥ 0x80 and NUL are left alone). Reproduced with a runtime-
    # built pattern `((?![A-Za-z0-9_])[\x01-\x7F])` — every structural
    # char (parens, brackets, backslash) is spelled chr(n) so the
    # emitted text cannot confuse later scanning passes, and no escape
    # sequence ever hits either engine's string-literal parser.
    def _escape_build(m, a):
        if len(a) != 1:
            return None
        pat = (
            "concat(chr(40), chr(40), \x02?!\x02, chr(91), "
            "\x02A-Za-z0-9_\x02, chr(93), chr(41), chr(91), chr(1), "
            "\x02-\x02, chr(127), chr(93), chr(41))"
        )
        rep = "concat(chr(92), chr(92), \x02$1\x02)"
        return f"regexp_replace\x01({a[0]}, {pat}, {rep})"

    masked = _rewrite_call(masked, _REGEXP_ESCAPE_RE, _escape_build)

    # typeof(): both engines have it, but the type-name SPELLINGS differ
    # (DuckDB 'INTEGER'/'VARCHAR' vs Spark 'int'/'string') — a silent
    # flip for flows that branch on the result. Map the scalar names;
    # nested types (lists/structs) stay Spark-spelled (documented).
    masked = _rewrite_call(
        masked,
        _TYPEOF_RE,
        lambda m, a: (
            (
                f"(CASE typeof\x01({a[0]}) "
                f"WHEN \x02int\x02 THEN \x02INTEGER\x02 "
                f"WHEN \x02string\x02 THEN \x02VARCHAR\x02 "
                f"WHEN \x02binary\x02 THEN \x02BLOB\x02 "
                f"WHEN \x02timestamp_ntz\x02 THEN \x02TIMESTAMP\x02 "
                f'WHEN \x02void\x02 THEN \x02"NULL"\x02 '
                f"ELSE upper(typeof\x01({a[0]})) END)"
            )
            if len(a) == 1
            else None
        ),
    )
    # JSON casts of a whole value: same target as to_json.
    masked = _ARRAY_ROW_TO_JSON_RE.sub("to_json\x01(", masked)

    # struct_extract(s, 'k') → parenthesized field access; the key must
    # be a string literal (Spark has no runtime-keyed struct access).
    def _struct_extract_build(m, a):
        if len(a) != 2:
            return None
        idx = _literal_index(a[1])
        if idx is None:
            raise ValueError(
                "struct_extract with a non-literal (or integer) key has "
                "no Spark equivalent; name the field explicitly"
            )
        return f"(({a[0]}).`{literals[idx][1:-1]}`)"

    masked = _rewrite_call(masked, _STRUCT_EXTRACT_RE, _struct_extract_build)
    # row(...) builds an unnamed struct; Spark's struct() is positional
    # too (field names differ — col1/col2 — but row compares by value).
    masked = _ROW_CTOR_RE.sub("struct(", masked)

    # Window frame EXCLUDE NO OTHERS is the default: drop it (the real
    # exclusion modes are refused up front).
    masked = _FRAME_EXCLUDE_NOOP_RE.sub("", masked)
    # arbitrary() is DuckDB's any_value: first NON-NULL value.
    masked = _rewrite_call(
        masked,
        _ARBITRARY_RE,
        lambda m, a: (
            f"any_value\x01({a[0]}, true)" if len(a) == 1 else None
        ),
    )
    # DuckDB permits ORDER BY inside ANY aggregate; for commutative
    # aggregates it cannot change the result (beyond fp summation
    # order) and Spark rejects the syntax — strip it.
    masked = _rewrite_call(masked, _COMMUTATIVE_AGG_RE, _strip_agg_order)
    return masked


def _strip_agg_order(m, a):
    changed = False
    out = []
    for arg in a:
        om = _find_top_level_order_by(arg)
        if om >= 0:
            arg = arg[:om].rstrip()
            changed = True
        out.append(arg)
    if not changed:
        return None
    return f"{m.group(1)}\x01({', '.join(out)})"


_FRAME_EXCLUDE_NOOP_RE = re.compile(
    r"\bEXCLUDE\s+NO\s+OTHERS\b", re.IGNORECASE
)
_ARBITRARY_RE = re.compile(r"\barbitrary\s*\(", re.IGNORECASE)
_TYPEOF_RE = re.compile(r"\btypeof\s*\(", re.IGNORECASE)
_ARRAY_ROW_TO_JSON_RE = re.compile(
    r"\b(?:array|row)_to_json\s*\(", re.IGNORECASE
)
_STRUCT_EXTRACT_RE = re.compile(r"\bstruct_extract\s*\(", re.IGNORECASE)
_ROW_CTOR_RE = re.compile(r"\brow\s*\(", re.IGNORECASE)
_COMMUTATIVE_AGG_RE = re.compile(
    r"\b(sum|avg|count|min|max|bool_and|bool_or|bit_and|bit_or|bit_xor)"
    r"\s*\(",
    re.IGNORECASE,
)


# Constructs with no faithful Spark spelling — DuckDB-only statements and
# functions, and close lookalikes whose semantics silently diverge — are
# refused loudly instead of mistranslated. Checked once, on the masked text
# (string literals never trip a refusal); the first match wins.
_REFUSALS = [
    (re.compile(r"\bPOSITIONAL\s+JOIN\b", re.IGNORECASE),
     "POSITIONAL JOIN has no Spark equivalent; zip frames with a "
     "row_number window + equi-join instead"),
    (re.compile(r"\bunnest\s*\([^()]*recursive\s*:=", re.IGNORECASE),
     "unnest(..., recursive := true) has no Spark equivalent; "
     "explode struct fields explicitly instead"),
    (re.compile(r"\^"),
     "'^' is POWER in DuckDB but bitwise XOR in Spark — a silent "
     "semantic flip; write power(a, b) explicitly"),
    (re.compile(r"\bhash\s*\(", re.IGNORECASE),
     "hash() is DuckDB's internal 64-bit hash; Spark's hash() is "
     "32-bit Murmur3 — values silently diverge. Use a portable "
     "digest (md5/sha2) or xxhash64 with explicit expectations"),
    (re.compile(r"\bUNION\s+(?:ALL\s+)?BY\s+NAME\b", re.IGNORECASE),
     "UNION [ALL] BY NAME has no Spark SQL spelling and aligning "
     "columns requires both subquery schemas; list the columns "
     "explicitly in the same order on both sides (or use the "
     "DataFrame unionByName operator)"),
    (re.compile(r"^\s*SUMMARIZE\b", re.IGNORECASE),
     "SUMMARIZE is a DuckDB statement with no SQL equivalent; use "
     "the column-profile operator (profile_orders_columns-style "
     "introspection) instead"),
    (re.compile(r"\bentropy\s*\(", re.IGNORECASE),
     "entropy() needs a two-level aggregation (value frequencies, then "
     "Σ −p·log2 p); compute it with a GROUP BY subquery"),
    (re.compile(r"\bmad\s*\(", re.IGNORECASE),
     "mad() nests a median of deviations from the median — not a "
     "single-pass Spark aggregate; compute with two percentile passes"),
    (re.compile(r"\bdamerau_levenshtein\s*\(", re.IGNORECASE),
     "damerau_levenshtein has no Spark equivalent (Spark levenshtein "
     "lacks transpositions); use levenshtein or the fuzzy-match operator"),
    (re.compile(r"\bjaro_(?:winkler_)?similarity\s*\(", re.IGNORECASE),
     "jaro/jaro_winkler similarity has no Spark equivalent; use "
     "levenshtein or the fuzzy-match operator"),
    (re.compile(r"\bage\s*\(", re.IGNORECASE),
     "age() returns a mixed month/day INTERVAL with no Spark "
     "counterpart; use date_diff('day', ...) or months_between()"),
    (re.compile(r"\bformat\s*\((?!\s*\))", re.IGNORECASE),
     "format() uses fmt-style {} templates whose float rendering "
     "diverges from Java's; use printf() (%-style), which both engines "
     "share"),
    (re.compile(r"\b(?:gamma|lgamma)\s*\(", re.IGNORECASE),
     "gamma/lgamma have no Spark SQL equivalent; precompute or use a "
     "Pandas UDF"),
    (re.compile(r"\bnextafter\s*\(", re.IGNORECASE),
     "nextafter (ulp stepping) has no Spark SQL equivalent"),
    (re.compile(r"\bsignbit\s*\(", re.IGNORECASE),
     "signbit has no Spark SQL equivalent (x < 0 misses -0.0); compare "
     "against 0 explicitly if -0.0 does not matter"),
    (re.compile(r"\btimezone_(?:hour|minute)\s*\(", re.IGNORECASE),
     "timezone_hour/timezone_minute need a TIMESTAMPTZ type Spark does "
     "not have; the session zone is a constant — inline it"),
    (re.compile(r"\bstrip_accents\s*\(", re.IGNORECASE),
     "strip_accents (unicode decomposition) has no Spark SQL equivalent; "
     "use translate() for a known accent set or a Pandas UDF"),
    (re.compile(r"\bnfc_normalize\s*\(", re.IGNORECASE),
     "nfc_normalize has no Spark SQL equivalent; normalize upstream or "
     "use a Pandas UDF"),
    (re.compile(r"\b(?:left|right)_grapheme\s*\(", re.IGNORECASE),
     "grapheme-cluster slicing has no Spark SQL equivalent; left/right "
     "operate on code points — use them if surrogate pairs are acceptable"),
    (re.compile(r"\bhistogram\s*\(", re.IGNORECASE),
     "histogram() builds a value→count MAP in one aggregate; Spark needs "
     "a two-level GROUP BY — compute the frequency table explicitly"),
    (re.compile(r"\bbitstring_agg\s*\(", re.IGNORECASE),
     "bitstring_agg has no Spark equivalent (BIT type); aggregate into a "
     "bool array or bitmask bigint explicitly"),
    (re.compile(r"\b(?:greatest_common_divisor|least_common_multiple|"
                r"gcd|lcm)\s*\(", re.IGNORECASE),
     "gcd/lcm have no Spark SQL equivalent; precompute or use a Pandas "
     "UDF"),
    (re.compile(r"\bparse_(?:path|dirname|filename)\s*\(", re.IGNORECASE),
     "parse_path/parse_dirname/parse_filename have no Spark equivalent; "
     "use split(path, '/') / regexp_extract"),
    (re.compile(r"\bmd5_number(?:_lower|_upper)?\s*\(", re.IGNORECASE),
     "md5_number/md5_number_lower return 128/64-bit UNSIGNED integers "
     "Spark's types cannot hold; use md5() hex text or xxhash64 with "
     "explicit expectations"),
    (re.compile(r"\bEXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES)\b", re.IGNORECASE),
     "window frame EXCLUDE CURRENT ROW / GROUP / TIES has no "
     "Spark equivalent; subtract the excluded rows' contribution "
     "explicitly"),
    (re.compile(r"\bproduct\s*\(", re.IGNORECASE),
     "the product() aggregate has no Spark equivalent "
     "(exp(sum(ln(x))) breaks on zeros/negatives); compute it "
     "explicitly if the domain is known-positive"),
]


def duckdb_to_spark_sql(
    sql: str, schemas: Callable[[], dict] | None = None
) -> str:
    """Rewrite known DuckDB-isms to Spark SQL; raise on constructs with no
    Spark equivalent rather than letting them fail with a parser error.

    ``schemas`` (optional) is a zero-argument source of ``{view:
    StructType}``, e.g. ``lambda: catalog_schemas(spark)`` as the CUSTOM
    stage passes it. It is called at most once, and only when a rewrite
    needs a column: ``COLUMNS(...)`` and ``* REPLACE`` expansion, and
    ``len()`` / ``[i:j]`` dispatch over a bare column name. Without it
    those forms are refused; every other rewrite is schema-free."""
    sm = _DUCK_STATEMENT_RE.match(sql)
    if sm:
        raise ValueError(
            f"{sm.group(1).upper()} is a DuckDB administrative statement "
            "with no Spark SQL counterpart; pipelines reach Spark through "
            "SELECT-shaped stages (configuration belongs in the session "
            "builder, ingest in the LOAD stage)"
        )
    masked, literals = _mask_strings(sql)
    for pat, msg in _REFUSALS:
        if pat.search(masked):
            raise ValueError(msg)
    views = _Schemas(schemas)
    # Before any cast handling: `T[]` list-type spellings → ARRAY<T> so the
    # int-cast rounding rewrites never see a `[]`-suffixed target.
    masked = _rewrite_array_types(masked)
    masked = _rewrite_asof(masked)
    masked = _rewrite_pivot_stmt(masked)
    masked = _rewrite_unpivot_stmt(masked)
    masked = _rewrite_columns_projection(masked, literals, views)
    masked = _rewrite_star_replace(masked, views)
    masked = _rewrite_struct_literals(masked)
    masked = _rewrite_json_arrows(masked, literals)
    masked = _rewrite_json_extract(masked, literals)
    masked = _rewrite_len(masked, views)
    if _RECURSIVE_RE.search(masked) and not _UNION_ALL_RE.search(masked):
        raise ValueError(
            "Spark recursive CTEs support only UNION ALL between anchor and "
            "recursive member; a UNION-distinct fixpoint (DuckDB's cyclic-"
            "closure idiom) would not terminate — rewrite with UNION ALL + "
            "an explicit depth bound, or use the connected-components "
            "operator for graph closures"
        )
    masked = _rewrite_quantile_disc(masked)
    masked = _rewrite_list_reduce(masked)
    masked = _rewrite_slices(masked, views)
    masked = _rewrite_match_operators(masked, literals)
    masked = _rewrite_subscripts(masked)
    masked = _INTDIV_RE.sub(" div ", masked)
    masked = _rewrite_strftime(masked, literals)
    masked = _rewrite_time_flips(masked, literals)
    masked = _rewrite_string_split(masked, literals)
    masked = _rewrite_list_aggregate(masked, literals)
    # list_prepend(elem, list) → array_prepend(list, elem): reversed args.
    masked = _rewrite_call(
        masked,
        _LIST_PREPEND_RE,
        lambda m, a: f"array_prepend\x01({a[1]}, {a[0]})" if len(a) == 2 else None,
    )
    # array/list_pop_back|front → slice (empty list stays empty, NULL NULL)
    masked = _rewrite_call(
        masked,
        _LIST_POP_RE,
        lambda m, a: (
            f"slice({a[0]}, {'2' if 'front' in m.group(0).lower() else '1'}, "
            f"greatest(size({a[0]}) - 1, 0))"
        )
        if len(a) == 1
        else None,
    )
    # list_has_all(haystack, needles) → every needle contained (Spark has
    # no direct equivalent; forall + array_contains is exact).
    masked = _rewrite_call(
        masked,
        _LIST_HAS_ALL_RE,
        lambda m, a: (
            f"forall({a[1]}, x -> array_contains({a[0]}, x))" if len(a) == 2 else None
        ),
    )
    # regexp_matches is DuckDB's partial-match boolean — Spark RLIKE.
    masked = _rewrite_call(
        masked,
        _REGEXP_MATCHES_RE,
        lambda m, a: f"({a[0]} RLIKE {a[1]})" if len(a) == 2 else None,
    )
    # epoch_us/epoch_ms → unix_micros/unix_millis (exact integer epochs;
    # the cast covers TIMESTAMP_NTZ columns, which the unix_* functions
    # reject raw).
    masked = _rewrite_call(
        masked,
        _EPOCH_RE,
        lambda m, a: (
            f"unix_{'micros' if m.group(1).lower() == 'us' else 'millis'}"
            f"(cast({a[0]} as timestamp))"
            if len(a) == 1
            else None
        ),
    )
    # Bare VARCHAR (DuckDB's default string type) needs a length in Spark;
    # map to STRING. Parameterized VARCHAR(n) is Spark-valid and untouched.
    masked = _BARE_VARCHAR_RE.sub("STRING", masked)
    # DuckDB's binary type names → Spark BINARY.
    masked = _BARE_BLOB_RE.sub("BINARY", masked)
    # Early: user-written integer casts only — later rewrites emit their
    # own (non-integer) casts that must stay untouched.
    masked = _rewrite_int_casts(masked)
    masked = _rewrite_math_string_flips(masked)
    # Before the list_concat rewrite, which emits an ARRAY concat that
    # must not get the string-typed null-skip wrapping.
    masked = _rewrite_string_edge_flips(masked)
    masked = _rewrite_agg_flips(masked)
    masked = _rewrite_extract_fields(masked)
    masked = _rewrite_day_fns(masked, literals)
    masked = _rewrite_list_agg_fn(masked)
    masked = _rewrite_first_last_ordered(masked)
    masked = _rewrite_r3_tail_fns(masked, literals)
    masked = _rewrite_r3_batch2(masked, literals)
    # group_concat is string_agg's alias — fold into that rewrite.
    masked = re.sub(r"\bgroup_concat\s*\(", "string_agg(", masked, flags=re.IGNORECASE)
    # ISO week-of-year in both engines.
    masked = re.sub(r"\bweek\s*\(", "weekofyear(", masked, flags=re.IGNORECASE)
    masked = _rewrite_ignore_nulls(masked)
    masked = _rewrite_from_unnest(masked)
    masked = _rewrite_regexp_replace(masked, literals)
    masked = _rewrite_date_part(masked, literals)
    masked = _rewrite_similar_to(masked, literals)
    masked = _rewrite_list_slice(masked)
    masked = _rewrite_struct_pack(masked)
    masked = _rewrite_vector_fns(masked)
    masked = _rewrite_time_bucket(masked, literals)
    # epoch(ts) → fractional epoch seconds (epoch_ms/epoch_us were already
    # rewritten above; the bare spelling requires '(' right after the name
    # so it cannot touch them).
    masked = _rewrite_call(
        masked,
        _EPOCH_FN_RE,
        lambda m, a: (
            f"(unix_micros(cast({a[0]} as timestamp)) / 1e6)" if len(a) == 1 else None
        ),
    )
    # list_unique COUNTS distinct non-null elements (it is not a dedup).
    masked = _rewrite_call(
        masked,
        _LIST_UNIQUE_RE,
        lambda m, a: (
            f"size(array_distinct\x01(filter({a[0]}, _lu -> _lu IS NOT NULL)))"
            if len(a) == 1
            else None
        ),
    )
    # list_distinct DROPS null elements in DuckDB; Spark's array_distinct
    # keeps one — filter them out first.
    masked = _rewrite_call(
        masked,
        _LIST_DISTINCT_RE,
        lambda m, a: (
            f"array_distinct\x01(filter({a[0]}, _ld -> _ld IS NOT NULL))"
            if len(a) == 1
            else None
        ),
    )
    # list_has_any IGNORES null elements (false, not NULL, when only
    # nulls overlap); arrays_overlap returns NULL there. Whole-list NULL
    # operands stay NULL in both.
    masked = _rewrite_call(
        masked,
        _LIST_HAS_ANY_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"ELSE coalesce(arrays_overlap({a[0]}, {a[1]}), false) END)"
            if len(a) == 2
            else None
        ),
    )
    # list_concat treats a NULL operand as empty; Spark concat propagates
    # NULL — fold the null-handling into a CASE.
    masked = _rewrite_call(
        masked,
        _LIST_CONCAT_RE,
        lambda m, a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN {a[1]} "
            f"WHEN ({a[1]}) IS NULL THEN {a[0]} "
            f"ELSE concat\x01({a[0]}, {a[1]}) END)"
            if len(a) == 2
            else None
        ),
    )
    masked = _rewrite_date_diff(masked, literals)
    masked = _rewrite_string_agg(masked)
    masked = _rewrite_distinct_on(masked)
    masked = _rewrite_using_sample(masked)
    # LAST in the masked phase: after USING SAMPLE consumes its `50%`
    # spelling, and late enough that earlier-emitted divisions (epoch
    # seconds, cosine norms) also pick up DuckDB's NULL-on-zero.
    masked = _rewrite_div_mod_ops(masked)
    out = _rewrite_qualify(masked)
    out = _EXCLUDE_RE.sub(lambda m: f"{m.group(1)}EXCEPT{m.group(2)}", out)
    out = _rewrite_from_series(out)
    out = _rewrite_brackets(out)
    out = _LIST_VALUE_RE.sub("array(", out)
    for pat, repl in _FN_RENAMES:
        out = pat.sub(repl, out)
    out = _rewrite_list_sum(out)
    out = _SCALAR_SERIES_RE.sub("sequence(", out)
    out = _rewrite_order_by_nulls(out)
    out = out.replace("\x01", "")  # same-name rewrite markers
    # \x02 brackets a quote a rewrite needs to INTRODUCE (e.g. the
    # 'Infinity' literal in isinf's expansion) without confusing the
    # masked-text passes, which assume every quote is already a \x00 token.
    out = out.replace("\x02", "'")
    out = _unmask_strings(out, literals)
    # read_csv_auto('path', header=true, ...) → Spark csv file-format table.
    # Spark's `csv.`path`` reader has no header/inference options inline, so
    # route through read_files-style SELECT; header inference matches the
    # reference's auto_detect path closely enough for migration use.
    out = _READ_CSV_RE.sub(lambda m: f"csv.`{m.group(1)}`", out)
    out = _READ_PARQUET_RE.sub(lambda m: f"parquet.`{m.group(1)}`", out)
    return out
