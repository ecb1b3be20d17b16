"""DuckDB→Spark SQL dialect rewriting (SURVEY.md §2B gaps, §4 tail).

The reference passes user SQL verbatim to DuckDB, so its users write
DuckDB-isms. Spark SQL covers the semantics; a handful of constructs need a
*syntactic* pre-rewrite before ``spark.sql``:

- ``FROM data`` placeholder and ``read_parquet('path')`` / ``read_csv`` /
  ``read_avro`` table functions → temp view names (the reference's regex
  substitution, src/worker.ts:247-266, run in reverse: we already register
  the file as view ``data``).
- ``expr::TYPE`` → ``CAST(expr AS TYPE)``.
- ``json -> 'k'`` / ``json ->> 'k'`` → ``get_json_object(json, '$.k')``.
- ``QUALIFY pred`` → wrap in a subquery and filter (Spark lacks QUALIFY).
- ``SELECT * EXCLUDE (a, b)`` → ``SELECT * EXCEPT (a, b)`` (Spark 3.4+).
- a small function-name map (``strftime``→``date_format`` with pattern
  translation, ``list_*``→array functions, etc.).

These are string/regex rewrites, not a SQL parser: they cover the
reference-reachable surface (its own constructed SQL plus common user
idioms) and leave everything else untouched for Catalyst to parse. True
dialect completeness would use sqlglot (not available in this container).
"""

from __future__ import annotations

import re

# type spelling after ``::``: base name, optional (args) — DECIMAL(10,2)
# or composite STRUCT(a DOUBLE)/MAP(K,V) bodies — and [] array suffixes
_TYPE = r"[A-Za-z_][A-Za-z0-9_]*(?:\s*\([^()]*\))?(?:\s*\[\s*\])*"

# DuckDB function name → Spark function name. Only functions whose
# argument shapes match exactly are renamed (applied by transpile);
# len()/length() get their own schema-aware rewrite (rewrite_len), and
# remaining ambiguous ones (list_aggregate's name-string argument) are
# deliberately left for the SQL parser to reject loudly rather than
# silently misinterpret.
FUNCTION_RENAMES = {
    # list_contains / list_distinct / list_has_any are NOT plain renames
    # (round-7 hunt 13): DuckDB's contains is FALSE for a miss even with
    # NULL elements present, list_distinct drops NULLs, list_has_any
    # never matches on NULL — rewrite_function_shapes lowers all three.
    # list_sort is NOT a plain rename: DuckDB defaults NULLS LAST in
    # both directions while sort_array(l) puts nulls first — lowered in
    # rewrite_function_shapes (array_sort default / comparator forms).
    "list_transform": "transform",
    "list_filter": "filter",
    "array_transform": "transform",
    "array_apply": "transform",
    "array_filter": "filter",
    "array_length": "size",
    "regexp_matches": "regexp_like",
    "array_to_string": "array_join",  # both (array, delimiter)
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "string_split_regex": "split",  # both regex-delimited
    "list_max": "array_max",
    "list_min": "array_min",
    "list_reverse": "reverse",
    "list_concat": "concat",
    "list_cat": "concat",  # DuckDB alias of list_concat (batch 39)
    # 1-based element access incl. negative from-the-end indexes;
    # NULL out-of-range — try_element_at matches exactly (wave 47;
    # literal index 0, NULL on DuckDB, stays loud — Spark rejects it)
    "list_extract": "try_element_at",
    "list_element": "try_element_at",
    # generate_series is NOT a plain rename: Spark's sequence flips to a
    # descending list on inverted bounds where DuckDB returns [] —
    # rewrite_function_shapes lowers it (and scalar range) with guards.
    # arg_max/arg_min: see the NULL-skipping shape rewrite in
    # rewrite_function_shapes (DuckDB ignores rows whose VALUE is NULL;
    # Spark's max_by returns them) — not a plain rename (batch 36)
    # arbitrary() = DuckDB alias of first(); the ORDER BY form is
    # lowered to min_by/max_by in rewrite_function_shapes first
    "arbitrary": "first",
    # DuckDB list()/array_agg() keep NULL elements; Spark's array_agg
    # drops them — documented divergence (null elements are rare in
    # aggregation keys; the alternative is failing every list() query).
    "list": "array_agg",
    # SELECT-position unnest (one generator per select, Spark rule);
    # FROM-position is lowered first by rewrite_series_table_functions.
    "unnest": "explode",
    "strpos": "instr",
    "row": "struct",
    "starts_with": "startswith",
    "prefix": "startswith",
    "suffix": "endswith",
    # exact interpolated quantile on both engines
    "quantile_cont": "percentile",
    # "quantile" is DuckDB's alias of quantile_DISC — handled with the
    # quantile_disc WITHIN GROUP shape in rewrite_function_shapes
    # approximate sketches differ by design; values gated by bounds
    "approx_quantile": "approx_percentile",
    "reservoir_quantile": "approx_percentile",
    "list_value": "array",
    "json_keys": "json_object_keys",
    "json_extract_string": "get_json_object",
    # Kahan-compensated float aggregates: Spark's double sum/avg is the
    # closest (no compensated variant exists)
    "fsum": "sum",
    "favg": "avg",
    "kahan_sum": "sum",
    "array_value": "array",
    "regexp_split_to_array": "split",
    "datetrunc": "date_trunc",
    "week": "weekofyear",
    "today": "current_date",
    # both engines: 1-based index, 0 when missing
    "list_position": "array_position",
    "list_indexof": "array_position",
    "from_base64": "unbase64",
    "to_base64": "base64",
    "ord": "ascii",
    "gen_random_uuid": "uuid",
    "list_zip": "arrays_zip",
    # element ORDER diverges (DuckDB hash-set order vs Spark first-list
    # order) — sets have no defined order in either engine's docs;
    # wrap in list_sort for a deterministic result
    "list_intersect": "array_intersect",
    # round-4 hunt batches 8/9/10
    "str_split_regex": "split",
    "list_pack": "array",
    "strlen": "length",
    "apply": "transform",  # 2-param forms get the 1-based idx shape first
    "list_apply": "transform",
    "to_hex": "hex",
    "from_hex": "unhex",
    # NOT renamed on purpose: list_unique (a count, not a dedup —
    # handled in rewrite_function_shapes), string_agg (ORDER BY
    # argument shape — rewrite_function_shapes lowers it to listagg).
}

_STRFTIME_MAP = [
    # %-X non-padded variants first (probed batch 39: %-d/%-m emit
    # unpadded numbers); a single JVM pattern letter means "no padding".
    ("%-d", "d"), ("%-m", "M"), ("%-H", "H"), ("%-I", "h"),
    ("%-M", "m"), ("%-S", "s"), ("%-j", "D"),
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%I", "hh"), ("%M", "mm"), ("%S", "ss"),
    ("%f", "SSSSSS"), ("%g", "SSS"), ("%p", "a"), ("%j", "DDD"),
    ("%a", "EEE"), ("%A", "EEEE"), ("%b", "MMM"), ("%B", "MMMM"),
    ("%%", "%"),
]


def translate_strftime_pattern(pattern: str) -> str:
    """DuckDB strftime % patterns → JVM SimpleDateFormat patterns."""
    out = pattern
    for duck, jvm in _STRFTIME_MAP:
        out = out.replace(duck, jvm)
    return out


_READ_FN_FORMATS = {
    "read_parquet": "parquet",
    "parquet_scan": "parquet",  # legacy DuckDB alias
    "read_csv": "csv",
    "read_csv_auto": "csv",
    "read_json": "json",
    "read_json_auto": "json",
    "read_avro": "avro",
    "read_orc": "orc",
}


def rewrite_from_data(
    sql: str, view: str = "data", dataset_path: str | None = None
) -> str:
    """Bind the ``data`` placeholder relation to this dataset's unique view
    (the reference's regex substitution, src/worker.ts:247-266: each
    document worker rewrites ``FROM data`` to its own file read — here each
    Dataset rewrites to its own temp view so two open files can't cross).

    ``read_parquet('p')``-style table functions: the literal ``'path'``
    placeholder (reference package.json:62-63) or the dataset's own path
    binds to the view; any OTHER path becomes Spark's direct file-query
    form ``parquet.`/that/path``` so querying a different file reads that
    file instead of silently returning this dataset's rows."""

    def sub(m: re.Match) -> str:
        fn, path = m.group(1).lower(), m.group(2)
        if path == "path" or (dataset_path and path == dataset_path):
            return view
        fmt = _READ_FN_FORMATS.get(fn, "parquet")
        return f"{fmt}.`{path}`"

    sql = re.sub(
        r"\b(read_(?:parquet|csv|csv_auto|avro|json|json_auto|orc)"
        r"|parquet_scan)\s*\(\s*'([^']*)'\s*\)",
        sub,
        sql,
        flags=re.IGNORECASE,
    )
    if view != "data":
        # FROM/JOIN data (optionally followed by alias/clause) — same
        # word-boundary regex idea as the reference's formatQueryString
        sql = re.sub(
            r"\b(FROM|JOIN)\s+data\b", rf"\1 {view}", sql, flags=re.IGNORECASE
        )
        # comma-separated relation lists: ``FROM orders, data`` must bind
        # to this dataset's view too, not the shared most-recently-opened
        # ``data`` alias (two-open-files isolation). Tempered scan stops at
        # clause keywords so ``GROUP BY x, data`` (a column) is untouched.
        comma_data = re.compile(
            r"(\bFROM\b(?:(?!\b(?:WHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW"
            r"|QUALIFY|SELECT|UNION|EXCEPT|INTERSECT|JOIN|ON)\b)[^()])*?"
            r",\s*)data\b(?!\s*[(.])",
            re.IGNORECASE,
        )
        prev = None
        while prev != sql:
            prev = sql
            sql = comma_data.sub(rf"\g<1>{view}", sql, count=1)
    return sql


def rewrite_function_renames(sql: str) -> str:
    """Apply the safe DuckDB→Spark function-name map (call sites only)."""
    for duck, spark in FUNCTION_RENAMES.items():
        sql = re.sub(rf"\b{duck}\s*\(", f"{spark}(", sql, flags=re.IGNORECASE)
    return sql


# list_aggregate's second argument names the aggregate; only the
# type-preserving ones map cleanly onto Spark array functions ('sum'/'avg'
# would change result types vs DuckDB's HUGEINT promotion — left to fail
# loudly rather than silently drift).
# targets emitted here are themselves lowered later in the chain
# (list_sum/list_avg/... get DuckDB NULL semantics in the shapes pass)
_LIST_AGG_SAFE = {
    "min": "array_min", "max": "array_max", "count": "size",
    "sum": "list_sum", "avg": "list_avg", "mean": "list_avg",
    "median": "list_median", "first": "list_first", "last": "list_last",
    "product": "list_product", "bool_and": "list_bool_and",
    "bool_or": "list_bool_or",
}


def rewrite_list_aggregate(sql: str, stash: list[str] | None = None) -> str:
    """``list_aggregate(l, 'min'|'max'|'count')`` → array_min/array_max/
    size. Operates on literal-protected SQL (the name literal is resolved
    through ``stash``); other aggregate names pass through untouched and
    fail loudly."""
    if stash is None:
        sql, local = _protect_literals(sql)
        return _restore_literals(rewrite_list_aggregate(sql, local), local)

    def la(m: re.Match) -> str:
        fn = _LIST_AGG_SAFE.get(_lit_text(stash, m.group(2)).lower())
        return f"{fn}({m.group(1)})" if fn else m.group(0)

    return re.sub(
        r"\b(?:list_aggregate|list_aggr|array_aggregate|array_aggr|aggregate)\s*\(\s*"
        r"((?:[^(),\[\]]|\([^()]*\)|\[[^\[\]]*\])+?)"
        r"\s*,\s*\x00LIT(\d+)\x00\s*\)",
        la,
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_strftime(sql: str, stash: list[str] | None = None) -> str:
    """``strftime(expr, '%Y-%m-%d')`` → ``date_format(expr, 'yyyy-MM-dd')``
    (literal-format calls only; same argument order in both dialects).
    Operates on literal-protected SQL; the translated format is stashed
    back as a fresh literal."""
    if stash is None:
        sql, local = _protect_literals(sql)
        return _restore_literals(rewrite_strftime(sql, local), local)

    # week-based codes have no Spark pattern letter (Spark 3+ rejects
    # the Java week-based ones): splice computed fields between
    # date_format chunks. Emitted in DUCK spellings (weekday/isodow/
    # isoyear, '//') — the later shape/arithmetic passes normalize them
    # (round-7 lesson: rename-proof > pre-translated).
    _WEEK_CODES = {
        # ISO week number, zero-padded
        "%V": "lpad(CAST(weekofyear({x}) AS VARCHAR), 2, '0')",
        # ISO year
        "%G": "CAST(isoyear({x}) AS VARCHAR)",
        # weekday, Sunday=0 / ISO weekday, Monday=1
        "%w": "CAST(weekday({x}) AS VARCHAR)",
        "%u": "CAST(isodow({x}) AS VARCHAR)",
        # Sunday-first / Monday-first week of year (week 0 = days
        # before the first Sunday/Monday — C strftime semantics)
        "%U": (
            "lpad(CAST((dayofyear({x}) + 6 - weekday({x})) DIV 7"
            " AS VARCHAR), 2, '0')"
        ),
        "%W": (
            "lpad(CAST((dayofyear({x}) + 7 - isodow({x})) DIV 7"
            " AS VARCHAR), 2, '0')"
        ),
    }
    _WEEK_SPLIT = re.compile("(" + "|".join(_WEEK_CODES) + ")")

    def sub(m: re.Match) -> str:
        raw = _lit_text(stash, m.group(2))
        x = m.group(1)
        if _WEEK_SPLIT.search(raw):
            parts = []
            for seg in _WEEK_SPLIT.split(raw):
                if not seg:
                    continue
                if seg in _WEEK_CODES:
                    parts.append(_WEEK_CODES[seg].format(x=x))
                elif "%" in seg:
                    fmt = translate_strftime_pattern(seg)
                    lit = "'" + fmt.replace("'", "''") + "'"
                    parts.append(
                        f"date_format({x}, {_stash_add(stash, lit)})"
                    )
                else:
                    lit = "'" + seg.replace("'", "''") + "'"
                    parts.append(_stash_add(stash, lit))
            if len(parts) == 1:
                return parts[0]
            return f"concat({', '.join(parts)})"
        fmt = translate_strftime_pattern(raw)
        lit = "'" + fmt.replace("'", "''") + "'"
        return f"date_format({x}, {_stash_add(stash, lit)})"

    sql = re.sub(
        r"\bstrftime\s*\(\s*([^,()]+?)\s*,\s*\x00LIT(\d+)\x00\s*\)",
        sub,
        sql,
        flags=re.IGNORECASE,
    )

    # the parse direction: strptime(str, '%d/%m/%Y') → to_timestamp with
    # the same pattern translation; try_strptime keeps its NULL-on-
    # failure contract via try_to_timestamp (batch 27)
    def sub_parse(m: re.Match) -> str:
        fmt = translate_strftime_pattern(_lit_text(stash, m.group(3)))
        lit = "'" + fmt.replace("'", "''") + "'"
        fn = "try_to_timestamp" if m.group(1) else "to_timestamp"
        return f"{fn}({m.group(2)}, {_stash_add(stash, lit)})"

    sql = re.sub(
        r"\b(try_)?strptime\s*\(\s*([^,()]+?)\s*,\s*\x00LIT(\d+)\x00\s*\)",
        sub_parse,
        sql,
        flags=re.IGNORECASE,
    )

    # format-LIST form: strptime(s, ['%d/%m/%Y', '%Y-%m-%d']) tries each
    # in order → coalesce over try_to_timestamp (DuckDB raises when none
    # match; this yields NULL — documented softening)
    def sub_parse_list(m: re.Match) -> str:
        x = m.group(1)
        parts = []
        for lid in re.findall(r"\x00LIT(\d+)\x00", m.group(2)):
            fmt = translate_strftime_pattern(_lit_text(stash, lid))
            lit = "'" + fmt.replace("'", "''") + "'"
            parts.append(
                f"try_to_timestamp({x}, {_stash_add(stash, lit)})"
            )
        return f"coalesce({', '.join(parts)})" if parts else m.group(0)

    return re.sub(
        r"\b(?:try_)?strptime\s*\(\s*([^,()\[\]]+?)\s*,\s*"
        r"\[((?:\s*\x00LIT\d+\x00\s*,?)+)\]\s*\)",
        sub_parse_list,
        sql,
        flags=re.IGNORECASE,
    )


_LITERAL = re.compile(r"'(?:[^']|'')*'")


_ESTRING_ESCAPES = {
    "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
    "\\": "\\", "'": "'",
}


def _protect_literals(sql: str) -> tuple[str, list[str]]:
    """Swap string literals for placeholders so regex rewrites can't
    corrupt their contents (e.g. '::' inside a URL literal).

    Two DuckDB literal SPELLINGS Spark lacks are normalized here, where
    quoting is still unambiguous (batch 40):

    - dollar-quoted ``$$text$$`` / ``$tag$text$tag$`` → standard quoted
      literal (embedded quotes doubled);
    - escape strings ``e'a\\tb'`` → escapes RESOLVED at transpile time
      into a standard literal (the engine pins
      spark.sql.parser.escapedStringLiterals=true, so raw characters
      are the only correct carrier). \\xHH, \\uXXXX and the C escapes
      are handled; an unknown backslashed char is the char itself
      (the PostgreSQL rule DuckDB follows).
    """
    stash: list[str] = []

    def keep_raw(raw: str) -> str:
        stash.append(raw)
        return f"\x00LIT{len(stash) - 1}\x00"

    def keep_text(text: str) -> str:
        stash.append("'" + text.replace("'", "''") + "'")
        return f"\x00LIT{len(stash) - 1}\x00"

    def decode_estring(body: str) -> str:
        out, i, n = [], 0, len(body)
        while i < n:
            c = body[i]
            if c == "'" and i + 1 < n and body[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            if c != "\\" or i + 1 >= n:
                out.append(c)
                i += 1
                continue
            nxt = body[i + 1]
            if nxt in _ESTRING_ESCAPES:
                out.append(_ESTRING_ESCAPES[nxt])
                i += 2
            elif nxt in "xX" and re.match(r"[0-9a-fA-F]{1,2}", body[i + 2 : i + 4]):
                h = re.match(r"[0-9a-fA-F]{1,2}", body[i + 2 : i + 4]).group(0)
                out.append(chr(int(h, 16)))
                i += 2 + len(h)
            elif nxt == "u" and re.match(r"[0-9a-fA-F]{4}", body[i + 2 : i + 6]):
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
            else:
                out.append(nxt)
                i += 2
        return "".join(out)

    # ONE left-to-right lexer pass, like the engines' own lexers. The
    # pre-r10 design ran three independent regex passes (dollar-quote,
    # e-string, plain literal) in sequence, so a dollar-quote or
    # e-string SPELLING *inside* a plain literal ('$$abc$$', ' e''x''')
    # was consumed first and leaked nested placeholders into the output
    # (found by the r10 literal round-trip property fuzz). Scanning
    # left-to-right, whichever literal opens first owns the text up to
    # its own closer.
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if (
            c in "eE"
            and i + 1 < n
            and sql[i + 1] == "'"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] in "_'\""))
        ):
            # e-string: body allows \-escapes (incl. \') and '' doubling
            j, closed = i + 2, -1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    closed = j
                    break
                j += 1
            if closed != -1:
                out.append(keep_text(decode_estring(sql[i + 2 : closed])))
                i = closed + 1
                continue
        if c == "'":
            j, closed = i + 1, -1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    closed = j
                    break
                j += 1
            if closed != -1:
                out.append(keep_raw(sql[i : closed + 1]))
                i = closed + 1
                continue
        if c == "$":
            m = re.match(r"\$([A-Za-z_]\w*|)\$", sql[i:])
            if m:
                tag = m.group(0)
                end = sql.find(tag, i + len(tag))
                if end != -1:
                    out.append(keep_text(sql[i + len(tag) : end]))
                    i = end + len(tag)
                    continue
        if c == "`":
            # BACKTICK identifier — only rewrite-generated text carries
            # these (DDL rebuilds emit Spark-form `col` names); stash
            # opaque so neither this lexer (a '"' inside the name used
            # to open an IDQ span crossing the backtick — r11 composite
            # fuzz) nor any later rewrite can touch the content
            j, closed = i + 1, -1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":
                        j += 2
                        continue
                    closed = j
                    break
                j += 1
            if closed != -1:
                stash.append(sql[i : closed + 1])
                out.append(f"\x00BTK{len(stash) - 1}\x00")
                i = closed + 1
                continue
        if c == '"':
            # double-quoted IDENTIFIER (DuckDB has no "…" string form):
            # stash under the \x00IDQ…\x00 namespace so no mid-pipeline
            # rewrite can touch its CONTENT (`AS "0!"` was factorial-
            # rewritten — r10 identifier fuzz); restore emits backticks.
            j, closed = i + 1, -1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    closed = j
                    break
                j += 1
            if closed != -1 and closed > i + 1:  # "" stays loud
                stash.append(sql[i : closed + 1])
                out.append(f"\x00IDQ{len(stash) - 1}\x00")
                i = closed + 1
                continue
        out.append(c)
        i += 1
    return "".join(out), stash


def _trailing_backslashes_odd(content: str) -> bool:
    return (len(content) - len(content.rstrip("\\"))) % 2 == 1


def _spark_string_literal(content: str) -> str:
    """Emit ``content`` as a Spark literal under the engine's pinned
    spark.sql.parser.escapedStringLiterals=true (raw) mode, where the
    SQL-standard ``''`` escape is NOT collapsed ('it''s' reads back as
    ``it''s`` — probed, batch 40). Quote-free content keeps the plain
    form; a single quote switches to the double-quoted spelling; both
    quote kinds fall back to a foldable concat with chr().

    Backslash caveat (r10 literal fuzz): even in raw mode, Spark's
    LEXER still consumes ``\\X`` as one unit (the raw VALUE keeps both
    chars — probed: ``'a\\'b'`` parses and reads back ``a\\'b``), so a
    content ending in an ODD run of backslashes would swallow the
    closing quote (``'\\'`` is a parse error). Such contents — and any
    content mixing backslashes with quotes, where ``''`` doubling after
    a backslash mis-lexes — take the chr() concat path, which splits
    out every quote AND backslash so no chunk can end in one."""
    bs = "\\" in content
    if "'" not in content and not (bs and _trailing_backslashes_odd(content)):
        return "'" + content + "'"
    if '"' not in content and not bs:
        return '"' + content + '"'
    parts = []
    for tok in re.split(r"(['\"\\])", content):
        if tok == "'":
            parts.append("chr(39)")
        elif tok == '"':
            parts.append("chr(34)")
        elif tok == "\\":
            parts.append("chr(92)")
        elif tok:
            parts.append("'" + tok + "'")
    return "concat(" + ", ".join(parts) + ")" if parts else "''"


def _restore_literals(
    sql: str, stash: list[str], idq: str = "raw", form: str = "spark"
) -> str:
    """``idq="backtick"`` is for the FINAL restore of the full transpile
    only — every intermediate restore (statement splitting, EXECUTE
    binding, macro expansion, mini-rewrites) must keep the original
    ``"…"`` spelling, because the text flows BACK through transpile and
    an early backtick conversion would re-expose identifier content to
    the rewrites the IDQ protection exists to block.

    ``form="duck"`` restores the stash VERBATIM (DuckDB-dialect text)
    for restores whose output re-enters the gateway/transpile pipeline
    — the default ``"spark"`` form re-encodes quote-doubled /
    backslash-carrying literals for Spark's raw lexer, and that
    re-encoding picks the ``"…"`` double-quoted spelling when the
    content holds a single quote, which a LATER ``_protect_literals``
    pass reads as a quoted IDENTIFIER and backticks (r11: multi-
    statement ``SELECT 'it''s'; …`` came back as the column `it's`)."""
    for i, lit in enumerate(stash):
        ph = f"\x00BTK{i}\x00"
        if ph in sql:
            sql = sql.replace(ph, lit)  # backtick span: verbatim always
        ph = f"\x00IDQ{i}\x00"
        if ph in sql:
            if idq == "backtick":
                # double-quoted identifier → Spark backticks
                # ("" un-doubles, embedded backticks double)
                name = lit[1:-1].replace('""', '"').replace("`", "``")
                sql = sql.replace(ph, f"`{name}`")
            else:
                sql = sql.replace(ph, lit)
        ph = f"\x00LIT{i}\x00"
        if ph not in sql:
            continue
        if form == "duck":
            sql = sql.replace(ph, lit)
            continue
        # SQL-standard quote doubling must be re-encoded for Spark's raw
        # literal mode (see _spark_string_literal) — applies equally to
        # user literals and rewrite-generated ones. Backslash-carrying
        # literals re-encode too: Spark's lexer pairs \X even in raw
        # mode, so '' doubling after a backslash mis-lexes and a
        # trailing odd backslash run swallows the closing quote
        # (r10 literal fuzz).
        if (
            lit.startswith("'")
            and lit.endswith("'")
            and ("''" in lit or "\\" in lit)
        ):
            lit = _spark_string_literal(lit[1:-1].replace("''", "'"))
        sql = sql.replace(ph, lit)
    return sql


def _stash_add(stash: list[str], literal: str) -> str:
    """Register a rewrite-generated literal (full quoted text) and return
    its placeholder, so later structural rewrites can't corrupt it."""
    stash.append(literal)
    return f"\x00LIT{len(stash) - 1}\x00"


def _lit_text(stash: list[str], idx: str | int) -> str:
    """Unescaped contents of protected literal ``idx``."""
    return stash[int(idx)][1:-1].replace("''", "'")


def rewrite_numeric_literal_forms(sql: str) -> str:
    """DuckDB numeric-literal spellings Spark's lexer rejects (batch 40):

    - digit-group separators: ``1_000_000`` → ``1000000`` (Spark parses
      ``1`` then an ``_000_000`` identifier — an unresolved-column
      error, or worse a silent alias). Underscores are only removed
      BETWEEN digits, so identifiers like ``a_1`` are untouched.
    - leading-dot decimals: ``.5`` → ``0.5``.

    Runs on literal-protected text so numbers inside strings survive."""
    prev = None
    while prev != sql:
        prev = sql
        sql = re.sub(r"(?<![\w.])(\d[\d_]*\d)_(\d)", r"\1\2", sql)
        sql = re.sub(r"(?<![\w.])(\d)_(\d)", r"\1\2", sql)
    return re.sub(r"(?<![\w.])\.(\d)", r"0.\1", sql)


_DYN_INTERVAL = re.compile(
    r"\bINTERVAL\s*(\((?:[^()]|\([^()]*\))*\)|[A-Za-z_][\w.]*\b(?!\s*\())\s*"
    r"(YEAR|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)S?\b",
    re.IGNORECASE,
)


def rewrite_dynamic_interval(sql: str) -> str:
    """DuckDB's non-literal interval constructor ``INTERVAL (expr) UNIT``
    / ``INTERVAL col UNIT`` (batch 40) — Spark intervals demand literal
    counts. Lower to scalar×unit-literal multiplication:
    ``(expr) * INTERVAL '1' UNIT`` (WEEK via 7 days — Spark has no WEEK
    interval field). Numeric-literal counts (``INTERVAL 5 DAY``) are
    Spark-native and left alone; so are string forms (protected)."""

    def sub(m: re.Match) -> str:
        e, unit = m.group(1), m.group(2).upper()
        if re.fullmatch(r"[A-Za-z_][\w.]*", e) and e.upper() in (
            "YEAR", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND",
        ):
            return m.group(0)  # INTERVAL DAY type name, not a count
        if unit == "WEEK":
            return f"(({e}) * 7 * INTERVAL '1' DAY)"
        return f"(({e}) * INTERVAL '1' {unit})"

    return _DYN_INTERVAL.sub(sub, sql)


_TYPED_LIT_TYPES = (
    r"TINYINT|SMALLINT|INTEGER|INT[1248]?|SIGNED|BIGINT|LONG|HUGEINT"
    r"|UTINYINT|USMALLINT|UINTEGER|UBIGINT"
    r"|FLOAT[48]?|REAL|DOUBLE"
    r"|DECIMAL(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?"
    r"|NUMERIC(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?"
    r"|BOOLEAN|BOOL|LOGICAL|VARCHAR|TEXT|STRING|BPCHAR|UUID|BLOB|BYTEA"
)


def rewrite_typed_literals(sql: str) -> str:
    """DuckDB accepts ``TYPE 'literal'`` for every type (``INTEGER
    '42'``, ``BOOLEAN 'true'``); Spark's parser only knows the standard
    DATE/TIMESTAMP/INTERVAL/X forms. Map the rest to CAST (wave 42).
    Runs on literal-protected text; DATE/TIMESTAMP/TIME/INTERVAL are
    deliberately NOT in the list (native or separately handled), and a
    string alias can't false-positive — DuckDB itself rejects
    ``SELECT 1 'x'`` (probed)."""
    return re.sub(
        rf"(?<![:\w])({_TYPED_LIT_TYPES})\s+(\x00LIT\d+\x00)",
        r"CAST(\2 AS \1)",
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_string_int_cast_literals(sql: str, stash: list[str]) -> str:
    """DuckDB ROUNDS string→integer casts half away from zero
    (``'12.7'::INTEGER`` = 13, ``'-0.5'::INT`` = -1 — probed v1.0);
    Spark CAST truncates (12) and TRY_CAST yields NULL. For LITERAL
    operands the exact DuckDB value is computable at transpile time
    (wave 42). Column operands stay engine-native — their runtime type
    isn't knowable textually. Unparseable literals are left alone:
    error-vs-NULL strictness is the cast class documented in
    COVERAGE.md."""
    import decimal as _dec

    def sub(m: re.Match) -> str:
        fn, idx, typ = m.group(1), m.group(3), m.group(4)
        txt = _lit_text(stash, idx).strip()
        try:
            v = int(
                _dec.Decimal(txt).to_integral_value(
                    rounding=_dec.ROUND_HALF_UP
                )
            )
        except (ArithmeticError, ValueError):
            return m.group(0)
        return f"{fn}({v} AS {typ})"

    return re.sub(
        r"\b(CAST|TRY_CAST)\s*\(\s*(\x00LIT(\d+)\x00)\s+AS\s+"
        r"(TINYINT|SMALLINT|INT[1248]?|INTEGER|SIGNED|BIGINT|LONG"
        r"|UTINYINT|USMALLINT|UINTEGER|UBIGINT)\s*\)",
        sub,
        sql,
        flags=re.IGNORECASE,
    )


_SPECIAL_DATE_VALUES = {
    "infinity": ("9999-12-31", "9999-12-31 23:59:59.999999"),
    "+infinity": ("9999-12-31", "9999-12-31 23:59:59.999999"),
    "-infinity": ("0001-01-01", "0001-01-01 00:00:00"),
    "epoch": ("1970-01-01", "1970-01-01 00:00:00"),
}


def rewrite_special_date_literals(sql: str, stash: list[str]) -> str:
    """DuckDB's special DATE/TIMESTAMP input strings — ``'infinity'``,
    ``'-infinity'``, ``'epoch'`` — cast to sentinel values; Spark's CAST
    silently yields NULL for them (wave 43: a silent wrong-value class,
    since ``d < 'infinity'::DATE`` becomes NULL instead of true). Map
    to the representable extremes (9999-12-31 / 0001-01-01, epoch →
    1970-01-01): ordering against any real data value is preserved;
    only the rendered text differs from DuckDB's ``infinity`` sentinel
    (documented repr divergence, COVERAGE.md wave 43). Handles both the
    post-rewrite_pg_cast CAST form and typed-literal form."""

    def _slash_norm(txt: str) -> str | None:
        # DuckDB also parses slash-separated dates ('2024/3/5', with an
        # optional time tail); Spark CAST silently NULLs them (wave 48)
        m = re.fullmatch(r"(\d{4})/(\d{1,2})/(\d{1,2})(.*)", txt.strip())
        if m is None:
            return None
        return (
            f"{m.group(1)}-{int(m.group(2)):02d}-{int(m.group(3)):02d}"
            f"{m.group(4)}"
        )

    def sub(m: re.Match) -> str:
        fn, idx, typ = m.group(1), m.group(3), m.group(4).upper()
        txt = _lit_text(stash, idx).strip().lower()
        mapped = _SPECIAL_DATE_VALUES.get(txt)
        if mapped is None:
            norm = _slash_norm(_lit_text(stash, idx))
            if norm is not None:
                return (
                    f"{fn}({_stash_add(stash, repr(norm))} AS {typ})"
                )
            return m.group(0)
        v = mapped[0] if typ == "DATE" else mapped[1]
        return f"{fn}({_stash_add(stash, repr(v))} AS {typ})"

    sql = re.sub(
        r"\b(CAST|TRY_CAST)\s*\(\s*(\x00LIT(\d+)\x00)\s+AS\s+"
        r"(DATE|TIMESTAMP)\s*\)",
        sub,
        sql,
        flags=re.IGNORECASE,
    )

    def sub_typed(m: re.Match) -> str:
        typ, idx = m.group(1).upper(), m.group(3)
        txt = _lit_text(stash, idx).strip().lower()
        mapped = _SPECIAL_DATE_VALUES.get(txt)
        if mapped is None:
            norm = _slash_norm(_lit_text(stash, idx))
            if norm is not None:
                if typ == "DATE":
                    norm = norm.split(" ")[0]
                return f"{typ} {_stash_add(stash, repr(norm))}"
            return m.group(0)
        v = mapped[0] if typ == "DATE" else mapped[1]
        return f"{typ} {_stash_add(stash, repr(v))}"

    return re.sub(
        r"\b(DATE|TIMESTAMP)\s+(\x00LIT(\d+)\x00)",
        sub_typed,
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_quoted_identifiers(sql: str) -> str:
    """DuckDB double-quoted tokens are IDENTIFIERS (its lexer has no
    double-quoted string form); Spark's default parser reads ``"x"`` as
    a string literal, so ``SELECT r_name AS "Weird Name"`` mis-parses.
    Convert to backticks (wave 42): ``""`` un-doubles, embedded
    backticks double. Also wraps BARE identifiers containing non-ASCII
    word characters (DuckDB accepts ``SELECT 1 AS ümläut`` unquoted;
    Spark wants backticks). Runs LAST in the pipeline on literal-
    protected text — every earlier rewrite keeps matching the ``"…"``
    spelling it was written against, and no rewrite emits ``"…"`` as a
    string (audited: only matchers)."""

    def sub(m: re.Match) -> str:
        if m.group(3) is not None:
            return m.group(3)  # rewrite-generated raw literal: opaque
        if m.group(4) is not None:
            # already-backticked span (rewrite-generated, e.g. the DDL
            # UPDATE rebuild) \u2014 opaque, else a non-ASCII name inside it
            # would be wrapped AGAIN into ``name`` (r11 composite fuzz)
            return m.group(4)
        if m.group(1) is not None:
            name = m.group(1)
            if not name:
                return m.group(0)
            return "`" + name.replace('""', '"').replace("`", "``") + "`"
        tok = m.group(2)
        if any(ord(c) > 127 for c in tok):
            return f"`{tok}`"
        return tok

    return re.sub(
        '"((?:[^"]|"")*)"'
        "|([A-Za-z_\u0080-\uffff][\\w\u0080-\uffff]*)"
        "|('(?:[^']|'')*')"
        "|(`(?:[^`]|``)*`)",
        sub,
        sql,
    )


def rewrite_pg_cast(sql: str) -> str:
    """``expr::TYPE`` → ``CAST(expr AS TYPE)`` for simple operands
    (identifier, quoted identifier, literal, or parenthesized expr)."""
    operand = r"""(
        (?i:DATE|TIMESTAMP)\s+\x00LIT\d+\x00  # typed literal (wave 47:
                                    # TIMESTAMP 'x'::VARCHAR left the
                                    # keyword outside the CAST — parse
                                    # error; the literal binds first)
      | '(?:[^']|'')*'              # string literal
      | \x00LIT\d+\x00              # protected string literal
      | "[^"]+"                     # quoted identifier
      | \x00IDQ\d+\x00              # protected quoted identifier
      | \((?:[^()]|\([^()]*\))*\)   # parenthesized (≤1 nesting level)
      | \[[^\[\]]*\]                # bracket list literal
      | \{[^{}]*\}                  # struct literal (pre-rewrite)
      | [A-Za-z_][A-Za-z0-9_.]*\((?:[^()]|\([^()]*\))*\)   # simple call
      | [A-Za-z_][A-Za-z0-9_.]*     # identifier / dotted path
      | \d+(?:\.\d+)?               # number
    )"""
    pattern = re.compile(operand + r"\s*::\s*(" + _TYPE + ")", re.VERBOSE)
    prev = None
    while prev != sql:  # handle chains / multiple occurrences
        prev = sql
        sql = pattern.sub(lambda m: f"CAST({m.group(1)} AS {m.group(2)})", sql)
    return sql


def rewrite_json_arrows(sql: str, stash: list[str] | None = None) -> str:
    """``col -> 'k'`` / ``col ->> 'k'`` → ``get_json_object(col, '$.k')``,
    including *chained* paths and array indices:
    ``j -> 'a' -> 0 ->> 'c'`` → ``get_json_object(j, '$.a[0].c')``.

    DuckDB's ``->`` returns JSON, ``->>`` returns text; Spark's
    get_json_object returns text in both cases — fine for the common
    extract-then-compare usage. A chain is collapsed into one JSON path
    (each pass merges ``get_json_object(x, '$.p') -> k`` into the path),
    so a chain costs one JSON parse, not one per step.

    Operates on literal-protected SQL (keys are placeholder tokens
    resolved through ``stash``; generated path literals are stashed
    back), so arrow-like text *inside* an ordinary string literal —
    ``SELECT 'a -> 1'`` — is never rewritten. Lambda arrows
    (``x -> x + 1``) are untouched: the first hop's right side must be
    a protected string literal (an integer there is more likely a
    lambda constant body than a JSON root index); chained hops accept
    integer indices."""
    if stash is None:
        sql, local = _protect_literals(sql)
        return _restore_literals(rewrite_json_arrows(sql, local), local)

    ident = r"([A-Za-z_][A-Za-z0-9_.]*|\"[^\"]+\"|\x00IDQ\d+\x00|\x00LIT\d+\x00)"
    arrow = r"\s*->>?\s*(?:\x00LIT(\d+)\x00|(\d+))"

    def seg(key_idx: str | None, idx: str | None) -> str:
        return f".{_lit_text(stash, key_idx)}" if key_idx is not None else f"[{idx}]"

    # the operand may carry a pg-cast suffix — `'…'::JSON ->> 'k'` —
    # which runs AFTER this pass; fold it into a CAST here so the type
    # name is never mistaken for the operand (wave 43; ::JSON is
    # normalized to ::STRING upstream)
    base = re.compile(ident + r"(?:\s*::\s*(\w+))?\s*->>?\s*\x00LIT(\d+)\x00")
    chain = re.compile(
        r"get_json_object\(\s*((?:[^()]|\([^()]*\))*?),"
        r"\s*\x00LIT(\d+)\x00\s*\)" + arrow
    )

    def chain_sub(m: re.Match) -> str:
        prefix = _lit_text(stash, m.group(2))
        if not prefix.startswith("$"):  # second arg isn't a JSON path
            return m.group(0)
        lit = "'" + (prefix + seg(m.group(3), m.group(4))).replace("'", "''") + "'"
        return f"get_json_object({m.group(1)}, {_stash_add(stash, lit)})"

    def base_sub(m: re.Match) -> str:
        key = _lit_text(stash, m.group(3))
        # a '$'-rooted key IS a full JSONPath (DuckDB accepts either)
        path = key if key.startswith("$") else "$" + f".{key}"
        lit = "'" + path.replace("'", "''") + "'"
        operand = m.group(1)
        if m.group(2):
            operand = f"CAST({operand} AS {m.group(2)})"
        return f"get_json_object({operand}, {_stash_add(stash, lit)})"

    # call-form operand — `CAST(j AS STRING) ->> 'a'`, `fn(x) -> 'k'`
    # (wave 43): scan back from the `)` to the whole call. A BARE
    # parenthesized group is skipped — `(x) -> 'y'` is lambda params.
    call_hop = re.compile(r"\)\s*->>?\s*(?:\x00LIT(\d+)\x00|(\d+))")

    def call_base_pass(s: str) -> str:
        for m in call_hop.finditer(s):
            j = m.start()  # index of ')'
            depth, i = 0, j
            while i >= 0:
                if s[i] == ")":
                    depth += 1
                elif s[i] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                i -= 1
            if i < 0:
                continue
            fm = re.search(r"([A-Za-z_][\w.]*)\s*$", s[:i])
            if fm is None or fm.group(1).lower() in _NON_CALL_KEYWORDS:
                continue  # grouping paren / keyword: not a call operand
            if fm.group(1).lower() == "get_json_object":
                continue  # chain pass owns collapsed prefixes
            operand = s[fm.start(1) : j + 1]
            path = "$" + seg(m.group(1), m.group(2))
            lit = "'" + path.replace("'", "''") + "'"
            return (
                s[: fm.start(1)]
                + f"get_json_object({operand}, {_stash_add(stash, lit)})"
                + s[m.end() :]
            )
        return s

    # list-of-paths RHS (wave 46): `j -> ['a','b']` / `->> [...]`
    # returns a LIST with one extraction per element (keys, '$'-paths,
    # or root array indices all accepted, like the scalar form). Runs
    # BEFORE the scalar passes — their RHS patterns never match a `[`,
    # so ordering is safe; the list elements are still placeholders at
    # this point (the array-literal pass runs later).
    lst = re.compile(
        ident
        + r"\s*->>?\s*\[\s*"
        + r"((?:\x00LIT\d+\x00|\d+)(?:\s*,\s*(?:\x00LIT\d+\x00|\d+))*)\s*\]"
    )

    def lst_sub(m: re.Match) -> str:
        operand = m.group(1)
        parts = []
        for el in re.split(r"\s*,\s*", m.group(2)):
            pm = re.fullmatch(r"\x00LIT(\d+)\x00", el)
            if pm is not None:
                key = _lit_text(stash, pm.group(1))
                path = key if key.startswith("$") else "$." + key
            else:
                path = f"$[{el}]"
            lit = "'" + path.replace("'", "''") + "'"
            parts.append(
                f"get_json_object({operand}, {_stash_add(stash, lit)})"
            )
        return f"array({', '.join(parts)})"

    sql = lst.sub(lst_sub, sql)

    prev = None
    while prev != sql:
        prev = sql
        sql = chain.sub(chain_sub, sql)
        # call pass BEFORE the literal-operand pass: in
        # `CAST(j AS STRING) -> 'a' ->> 'b'` the leftmost hop belongs
        # to the call, and base would otherwise consume `'a' ->> 'b'`.
        # When it fires, RESTART the loop so the chain pass collapses
        # the remaining hops before base can mistake a pending KEY
        # (`-> 'b' ->> 'c'`) for a literal operand.
        new = call_base_pass(sql)
        if new != sql:
            sql = new
            continue
        # one leftmost match per pass: a later quoted KEY ('b' in
        # j -> 'a' -> 'b') must not be mistaken for a literal operand —
        # the next pass's chain-collapse consumes it instead
        sql = base.sub(base_sub, sql, count=1)
    return sql


def rewrite_exclude(sql: str) -> str:
    """``* EXCLUDE (a, b)`` / ``* EXCLUDE a`` → ``* EXCEPT (a, b)``."""
    sql = re.sub(
        r"\*\s+EXCLUDE\s*\(([^)]*)\)", r"* EXCEPT (\1)", sql, flags=re.IGNORECASE
    )
    sql = re.sub(
        r"\*\s+EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)",
        r"* EXCEPT (\1)",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


def _balanced_span(sql: str, open_idx: int, open_ch: str = "(", close_ch: str = ")") -> int:
    """Index of the bracket matching ``sql[open_idx]`` (-1 if unbalanced)."""
    depth = 0
    for i in range(open_idx, len(sql)):
        if sql[i] == open_ch:
            depth += 1
        elif sql[i] == close_ch:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _split_top_level(body: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/bracket/brace depth 0 (braces nest for
    DuckDB struct/map literals that survive into later rewrites)."""
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(body[last:i])
            last = i + 1
    parts.append(body[last:])
    return parts


# Functions whose result is an array — used to sniff len()'s argument.
_ARRAY_PRODUCING = {
    "split", "array", "array_agg", "collect_list", "collect_set", "sequence",
    "transform", "filter", "array_distinct", "sort_array", "slice", "flatten",
    "array_repeat", "map_keys", "map_values", "array_union", "array_intersect",
    "array_except", "arrays_zip", "list_transform", "list_filter", "list_sort",
    "list_distinct", "string_to_array", "regexp_extract_all", "shuffle",
    "array_compact", "array_append", "array_prepend", "array_insert",
    "array_remove", "string_split", "split_part_all",
    # DuckDB list-family producers (wave 42: list(x ORDER BY k)[1] was a
    # silent 0-based off-by-one — `list` wasn't in this set, so the
    # 1-based subscript pass skipped the call)
    "list", "list_value", "list_pack", "list_append", "list_prepend",
    "list_concat", "list_reverse", "list_resize", "list_where",
    "list_select", "list_zip", "list_slice", "array_slice",
    "array_pop_back", "array_pop_front", "str_split", "str_split_regex",
    "regexp_split_to_array", "array_reverse", "array_sort",
}


def _looks_like_array(arg: str, array_columns: set[str]) -> bool:
    a = arg.strip()
    if a.startswith("[") or a.lower().startswith("array"):
        return True
    fm = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(", a)
    if fm and fm.group(1).lower() in _ARRAY_PRODUCING:
        return True
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", a):
        return a.split(".")[-1].lower() in array_columns
    return False


def rewrite_len(sql: str, array_columns: set[str] | None = None) -> str:
    """DuckDB's ``len()``/``length()`` work on strings AND lists; Spark
    splits that into ``length`` (strings) vs ``size`` (arrays). Disambiguate
    by argument sniffing: array literals, array-producing function calls,
    and known array-typed columns (``array_columns``, supplied by
    Dataset.query from the live schema) go to ``size``; everything else to
    ``length``. Runs after literal protection, so a string-literal argument
    is a placeholder (→ ``length``)."""
    arr_cols = {c.lower() for c in (array_columns or set())}
    pat = re.compile(r"\b(len|length)\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            return sql
        close = _balanced_span(sql, m.end() - 1)
        if close < 0:
            return sql
        arg = sql[m.end() : close]
        fn = "size" if _looks_like_array(arg, arr_cols) else "length"
        sql = sql[: m.start()] + fn + "(" + sql[m.end() :]
        pos = m.start() + len(fn) + 1


_SQL_KEYWORDS_BEFORE_EXPR = {
    "select", "where", "and", "or", "not", "in", "then", "else", "when",
    "as", "on", "by", "values", "union", "all", "distinct", "having",
    "set", "from", "case", "end", "limit", "offset", "intersect", "except",
    "join", "like", "rlike", "ilike", "between", "is", "return", "returns",
}


def rewrite_array_literals(sql: str) -> str:
    """DuckDB list literals ``[e1, e2]`` → ``array(e1, e2)``.

    A ``[`` is a literal only at expression position (start of input, or
    after an operator, comma, open paren, or SQL keyword); after an
    identifier or closing bracket it is a subscript and is left alone.
    (Note DuckDB subscripts are 1-based vs Spark's 0-based ``element_at``
    counting — subscripts are deliberately not rewritten.) The optional
    ``ARRAY`` keyword prefix (``ARRAY[1, 2]``) is dropped first."""
    sql = re.sub(r"\bARRAY\s*(?=\[)", "", sql, flags=re.IGNORECASE)
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "[":
            j = i - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j < 0:
                expr_pos = True
            elif sql[j] in ")]\"'\x00":
                expr_pos = False
            elif re.match(r"[A-Za-z0-9_]", sql[j]):
                wm = re.search(r"([A-Za-z_][A-Za-z0-9_]*)$", sql[: j + 1])
                expr_pos = bool(
                    wm and wm.group(1).lower() in _SQL_KEYWORDS_BEFORE_EXPR
                )
            else:
                expr_pos = True  # operator, comma, open paren
            if expr_pos:
                close = _balanced_span(sql, i, "[", "]")
                if close > 0:
                    inner = rewrite_array_literals(sql[i + 1 : close])
                    out.append(f"array({inner})")
                    i = close + 1
                    continue
        out.append(ch)
        i += 1
    return "".join(out)


def rewrite_replace_projection(sql: str, columns: list[str] | None) -> str:
    """DuckDB's ``* REPLACE (expr AS col, ...)`` star modifier.

    Schema-aware (``columns`` known): expand to the full explicit column
    list with the replaced entries in place — preserves DuckDB's column
    order. Schema-free fallback: ``* EXCEPT (cols), expr AS col ...``
    (replaced columns move to the end; same data)."""
    # an EXCLUDE/EXCEPT group may sit between * and REPLACE (DuckDB
    # chains star modifiers; EXCLUDE→EXCEPT already rewritten upstream)
    pat = re.compile(
        r"\*\s+(?:EXCEPT\s*\((?P<exc>[^()]*)\)\s+)?REPLACE\s*\(",
        re.IGNORECASE,
    )
    while True:
        m = pat.search(sql)
        if not m:
            return sql
        close = _balanced_span(sql, m.end() - 1)
        if close < 0:
            return sql
        excluded = [
            c.strip().strip('"`')
            for c in (m.group("exc") or "").split(",")
            if c.strip()
        ]
        repl: dict[str, tuple[str, str]] = {}
        for item in _split_top_level(sql[m.end() : close]):
            mm = re.match(
                r"(?s)^\s*(.*?)\s+AS\s+(\"[^\"]+\"|\x00IDQ\d+\x00|[A-Za-z_][A-Za-z0-9_]*)\s*$",
                item,
                re.IGNORECASE,
            )
            if not mm:
                return sql  # malformed: leave for the parser to reject
            col = mm.group(2).strip('"')
            repl[col.lower()] = (mm.group(1).strip(), col)
        exc_lower = {c.lower() for c in excluded}
        if columns:
            proj = ", ".join(
                f"{repl[c.lower()][0]} AS `{c}`" if c.lower() in repl else f"`{c}`"
                for c in columns
                if c.lower() not in exc_lower
            )
        else:
            names = ", ".join(
                [col for _, col in repl.values()] + excluded
            )
            exprs = ", ".join(f"{e} AS `{c}`" for e, c in repl.values())
            proj = f"* EXCEPT ({names}), {exprs}"
        sql = sql[: m.start()] + proj + sql[close + 1 :]


def _window_expr_spans(pred: str) -> list[tuple[int, int]]:
    """Spans of ``fn(args) OVER (spec)`` calls in ``pred``. Assumes string
    literals are already placeholder-protected (no parens inside them)."""

    def balance(i: int, step: int) -> int:
        # i indexes a paren; walk to its match, return index past it.
        depth = 0
        while 0 <= i < len(pred):
            if pred[i] == "(":
                depth += 1
            elif pred[i] == ")":
                depth -= 1
            if depth == 0:
                return i
            i += step
        return i

    spans = []
    for m in re.finditer(r"\bOVER\s*\(", pred, flags=re.IGNORECASE):
        end = balance(m.end() - 1, 1) + 1
        # walk back over whitespace to the window function's closing paren
        j = m.start() - 1
        while j >= 0 and pred[j].isspace():
            j -= 1
        if j < 0 or pred[j] != ")":
            continue
        open_paren = balance(j, -1)
        im = re.search(r"[A-Za-z_][A-Za-z0-9_]*\s*$", pred[:open_paren])
        if im:
            spans.append((im.start(), end))
    return spans


def rewrite_qualify(sql: str) -> str:
    """``SELECT ... QUALIFY pred [ORDER BY ...] [LIMIT n]`` →
    subquery + WHERE. Only handles a top-level QUALIFY (the
    reference-reachable case). Window aliases referenced in pred are
    projected by construction; *inline* window calls in pred (DuckDB
    allows ``QUALIFY row_number() OVER (...) <= k``) are lifted into an
    aliased projection — Spark forbids window functions in WHERE — and
    the helper columns dropped again via ``* EXCEPT``."""
    m = re.search(r"\bQUALIFY\b", sql, flags=re.IGNORECASE)
    if not m:
        return sql
    head = sql[: m.start()].rstrip()
    tail = sql[m.end():].strip().rstrip(";")
    # split trailing ORDER BY / LIMIT off the qualify predicate —
    # only at paren depth 0 (an ORDER BY inside OVER (...) is part of
    # the window spec, not the outer query)
    trail = ""
    for tm in re.finditer(r"\b(ORDER\s+BY|LIMIT)\b", tail, flags=re.IGNORECASE):
        before = tail[: tm.start()]
        if before.count("(") == before.count(")"):
            trail = " " + tail[tm.start():]
            tail = before.strip()
            break
    spans = _window_expr_spans(tail)
    if not spans:
        return f"SELECT * FROM ({head}) __q WHERE {tail}{trail}"
    # Inject each window expr into the head's own select list (it may
    # reference base columns the projection drops), filter on the alias,
    # and strip the helper columns in the outer select.
    fm = None
    for fm_cand in re.finditer(r"\bFROM\b", head, flags=re.IGNORECASE):
        before = head[: fm_cand.start()]
        if before.count("(") == before.count(")"):
            fm = fm_cand
            break
    if fm is None:  # no top-level FROM — leave predicate as-is
        return f"SELECT * FROM ({head}) __q WHERE {tail}{trail}"
    projected, pred, last = [], [], 0
    for i, (s, e) in enumerate(spans):
        projected.append(f"{tail[s:e]} AS __qw{i}")
        pred.append(tail[last:s] + f"__qw{i}")
        last = e
    pred.append(tail[last:])
    inner = f"{head[: fm.start()].rstrip()}, {', '.join(projected)} {head[fm.start():]}"
    drop = ", ".join(f"__qw{i}" for i in range(len(spans)))
    return (
        f"SELECT * EXCEPT ({drop}) FROM ({inner}) __q "
        f"WHERE {''.join(pred)}{trail}"
    )


def rewrite_distinct_on(sql: str) -> str:
    """DuckDB's ``SELECT DISTINCT ON (exprs) list FROM ... ORDER BY o`` →
    keep the first row per exprs-group in o-order, via ``row_number()``
    partitioned on the exprs (one shuffle, no self-join), dropping the
    helper column with ``* EXCEPT``. The outer ORDER BY is preserved —
    in DuckDB it both picks the group representative and orders output.

    Handles DISTINCT ON at any paren depth (CTE bodies, derived tables):
    each occurrence is rewritten within its own enclosing parenthesized
    scope, so the ORDER BY / LIMIT splitting never escapes the subquery.
    Runs post-literal-protection, so paren counting is reliable.

    Known gap: DuckDB resolves ORDER BY terms against the base relation
    even when the projection drops them; after the rewrite the outer sort
    only sees the projected columns, so such queries fail analysis loudly
    (project the ordering columns to keep them). The representative-row
    choice is unaffected — the window ORDER BY runs pre-projection."""
    for _ in range(32):  # bounded: each pass eliminates one occurrence
        m = re.search(r"\bSELECT\s+DISTINCT\s+ON\s*\(", sql, flags=re.IGNORECASE)
        if m is None:
            return sql
        # Find the innermost paren scope enclosing the match, if any.
        opens: list[int] = []
        for i, ch in enumerate(sql[: m.start()]):
            if ch == "(":
                opens.append(i)
            elif ch == ")" and opens:
                opens.pop()
        if opens:
            o = opens[-1]
            c = _balanced_span(sql, o)
            if c < 0:
                return sql
            inner = sql[o + 1 : c]
            new_inner = _rewrite_distinct_on_scope(inner)
            if new_inner == inner:
                return sql
            sql = sql[: o + 1] + new_inner + sql[c:]
        else:
            rewritten = _rewrite_distinct_on_scope(sql)
            if rewritten == sql:
                return sql
            sql = rewritten
    return sql


def _rewrite_distinct_on_scope(sql: str) -> str:
    """Rewrite the first DISTINCT ON whose clause tail lies at this
    string's top level (the original single-scope algorithm)."""
    m = re.search(r"\bSELECT\s+DISTINCT\s+ON\s*\(", sql, flags=re.IGNORECASE)
    if not m:
        return sql
    # balanced scan for the ON (...) expression list
    i, depth = m.end() - 1, 0
    while i < len(sql):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                break
        i += 1
    on_exprs = sql[m.end() : i].strip()
    rest = sql[i + 1 :]
    # split trailing ORDER BY / LIMIT at paren depth 0
    order, limit = "", ""
    for tm in re.finditer(r"\b(ORDER\s+BY|LIMIT)\b", rest, flags=re.IGNORECASE):
        before = rest[: tm.start()]
        if before.count("(") == before.count(")"):
            tail = rest[tm.start() :].rstrip().rstrip(";")
            rest = before.rstrip()
            lm = re.search(r"\bLIMIT\b", tail, flags=re.IGNORECASE)
            if lm and not tail.upper().startswith("LIMIT"):
                order, limit = tail[: lm.start()].rstrip(), " " + tail[lm.start() :]
            elif tail.upper().startswith("LIMIT"):
                limit = " " + tail
            else:
                order = tail
            break
    win_order = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.IGNORECASE) or on_exprs
    fm = None
    for fm_cand in re.finditer(r"\bFROM\b", rest, flags=re.IGNORECASE):
        before = rest[: fm_cand.start()]
        if before.count("(") == before.count(")"):
            fm = fm_cand
            break
    if fm is None:
        return sql
    # ORDER BY terms that are EXPRESSIONS over base columns (e.g.
    # ``n_nationkey % 2``) would not resolve after the projection drops
    # their inputs — project them as hidden __ord columns and sort the
    # outer query on those. Simple identifiers (projected columns or
    # aliases) keep the direct reference.
    hidden: list[str] = []
    outer_order = order
    if order:
        items_text = re.sub(r"^ORDER\s+BY\s+", "", order, flags=re.IGNORECASE)
        out_items = []
        for idx, it in enumerate(_split_top_level(items_text)):
            im = re.fullmatch(
                r"\s*(.*?)((?:\s+(?:ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST))*)\s*",
                it,
                re.IGNORECASE | re.DOTALL,
            )
            body, sfx = im.group(1), im.group(2)
            sel_text = rest[: fm.start()]
            projected = "*" in sel_text or re.search(
                rf'(?<![\w."]){re.escape(body.split(".")[-1])}(?![\w"])',
                sel_text,
            )
            if (
                re.fullmatch(r'[\w."]+|\x00LIT\d+\x00', body) and projected
            ):
                out_items.append(it.strip())
            else:
                # expressions AND non-projected columns both vanish after
                # the projection — carry them as hidden __ord columns
                # (round-7 hunt 20: ORDER BY a non-selected tiebreak)
                hidden.append(f"{body} AS __ord{idx}")
                out_items.append(f"__ord{idx}{sfx}")
        outer_order = "ORDER BY " + ", ".join(out_items)
    hidden_sql = (", " + ", ".join(hidden)) if hidden else ""
    drop = ", ".join(["__don"] + [h.split(" AS ")[-1] for h in hidden])
    inner = (
        f"SELECT {rest[: fm.start()].strip()}{hidden_sql}, row_number() OVER "
        f"(PARTITION BY {on_exprs} ORDER BY {win_order}) AS __don "
        f"{rest[fm.start() :].strip()}"
    )
    return (
        f"SELECT * EXCEPT ({drop}) FROM ({inner}) __d WHERE __don = 1"
        f"{(' ' + outer_order) if order else ''}{limit}"
    )


def rewrite_map_literals(sql: str) -> str:
    """DuckDB map literals ``MAP {'k': v, …}`` → ``map('k', v, …)``.
    Must run before rewrite_struct_literals (which would otherwise eat
    the braces as a struct literal). Nested map/struct literals in the
    values are rewritten first so the top-level comma/colon split is
    unambiguous."""
    pat = re.compile(r"\bMAP\s*\{", re.IGNORECASE)
    while True:
        m = pat.search(sql)
        if m is None:
            return sql
        open_idx = m.end() - 1
        close = _balanced_span(sql, open_idx, "{", "}")
        if close == -1:
            return sql
        body = rewrite_struct_literals(
            rewrite_map_literals(sql[open_idx + 1 : close])
        )
        keys, vals = [], []
        bad = False
        for item in _split_top_level(body):
            key, sep, val = item.partition(":")
            if not sep:
                bad = True
                break
            keys.append(key.strip())
            vals.append(val.strip())
        if bad:
            return sql  # not a k: v literal — leave untouched
        sql = (
            sql[: m.start()]
            + f"map_from_arrays(array({', '.join(keys)}), "
            + f"array({', '.join(vals)}))"
            + sql[close + 1 :]
        )


def rewrite_struct_literals(sql: str) -> str:
    """DuckDB struct literals ``{'k': expr, ...}`` → ``named_struct('k',
    expr, ...)``. Runs after literal protection (keys are placeholder
    tokens that restore to quoted strings — exactly what named_struct
    wants) and after the ``::`` cast rewrite (so remaining top-level
    colons inside braces are key separators). Nested literals recurse."""
    out, i, n = [], 0, len(sql)
    while i < n:
        if sql[i] == "{":
            close = _balanced_span(sql, i, "{", "}")
            if close > 0:
                body = rewrite_struct_literals(sql[i + 1 : close])
                pairs = []
                ok = True
                for item in _split_top_level(body):
                    key, sep, val = item.partition(":")
                    if not sep or not key.strip() or not val.strip():
                        ok = False
                        break
                    pairs.append(f"{key.strip()}, {val.strip()}")
                if ok and pairs:
                    out.append(f"named_struct({', '.join(pairs)})")
                    i = close + 1
                    continue
        out.append(sql[i])
        i += 1
    return "".join(out)


def rewrite_interval_arith_casts(
    sql: str, date_columns: set[str] | None = None
) -> str:
    """``<date-ish> ± INTERVAL …`` returns TIMESTAMP in DuckDB for
    EVERY temporal operand (probed: DATE, last_day(…), greatest of
    dates — all TIMESTAMP out); Spark keeps DATE for date + day-ish
    intervals, so the cell TYPE silently diverged for non-literal
    operands (extended-grammar fuzz; the round-3 rule covered only the
    ``DATE 'lit'`` spelling). Cast the left operand to TIMESTAMP via
    the linear operand scanner. Interval-typed operands (INTERVAL
    literals, make_dt/ym_interval lowerings) are skipped — interval +
    interval stays an interval."""
    pat = re.compile(r"[+-]\s*INTERVAL\b", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            return sql
        lo = _scan_operand_left(sql, m.start())
        if lo is None:
            pos = m.end()
            continue
        # `INTERVAL 1 DAY + INTERVAL 2 DAY`: the scanner takes the UNIT
        # word (DAY) as the operand — the real operand is the interval
        # literal; intervals stay uncast. Only fires when the operand
        # IS a bare unit keyword directly after `INTERVAL <n>`.
        if re.fullmatch(
            r"(?i)(?:MICRO|MILLI)?SECONDS?|MINUTES?|HOURS?|DAYS?"
            r"|WEEKS?|MONTHS?|QUARTERS?|YEARS?|DECADES?"
            r"|CENTUR(?:Y|IES)|MILLENNIUMS?|MILLENNIA",
            sql[lo[0] : lo[1]].strip(),
        ) and re.search(
            r"(?i)\bINTERVAL\s+(?:\x00LIT\d+\x00|\d+|\([^()]*\))\s*$",
            sql[: lo[0]],
        ):
            pos = m.end()
            continue
        # absorb a typed-literal prefix: the scanner returns only the
        # placeholder of `DATE '…'` — the keyword is part of the operand
        km = re.search(r"(?i)\b(DATE|TIMESTAMP)\s*$", sql[: lo[0]])
        if km is not None and re.fullmatch(
            r"\x00LIT\d+\x00", sql[lo[0] : lo[1]].strip()
        ):
            lo = (km.start(1), lo[1])
        a = sql[lo[0] : lo[1]]
        at = a.strip()
        # cast only PROVABLY date-ish operands (typed literal anywhere
        # in the text — covers greatest(DATE…, DATE…) — or a known
        # temporal-returning call, or an AS DATE/TIMESTAMP cast).
        # Unknown-typed identifiers/columns stay engine-native
        # (documented residual: a date COLUMN + INTERVAL keeps Spark's
        # DATE cell where DuckDB says TIMESTAMP — same instant);
        # interval-typed operands never match the sniff.
        dateish = re.search(
            r"(?i)\b(?:DATE|TIMESTAMP)\s+\x00LIT\d+\x00"
            r"|\b(?:last_day|date_trunc|date_add|date_sub|make_date"
            r"|make_timestamp|to_date|to_timestamp|strptime"
            r"|try_strptime|current_date|current_timestamp|now"
            r")\s*\("
            r"|\bAS\s+(?:DATE|TIMESTAMP)\s*\)",
            at,
        )
        if dateish is None and date_columns:
            # schema context (Dataset.query supplies the DATE-typed
            # column names): a bare date-column identifier is a
            # provably temporal operand too
            im = re.fullmatch(r"[A-Za-z_][\w.]*", at)
            if im is not None and at.split(".")[-1].lower() in {
                c.lower() for c in date_columns
            }:
                dateish = im
        if dateish is None or re.fullmatch(
            r"(?is)CAST\s*\(.*\bAS\s+TIMESTAMP\s*\)", at
        ):
            pos = m.end()
            continue
        repl = f"CAST({a} AS TIMESTAMP)"
        sql = sql[: lo[0]] + repl + sql[lo[1] :]
        pos = m.end() + (len(repl) - (lo[1] - lo[0]))


def rewrite_int_literal_mathfns(sql: str) -> str:
    """ceil/floor/round on an INTEGER LITERAL are DOUBLE-typed in
    DuckDB (ceil(-3)::VARCHAR renders '-3.0'; Spark's ceil is BIGINT,
    '-3' — fuzz 49). Fold the no-op and emit the DOUBLE cast directly.
    Runs BEFORE rewrite_arithmetic_operators so its float sniff sees
    the DOUBLE marker (ceil(0) // 2 is DuckDB plain division).
    Composed integer-typed operands stay engine-native — statically
    unknowable, value-equal, repr-divergent only under a string cast
    (documented)."""

    def _int_lit(t: str) -> int | None:
        lm = re.fullmatch(r"\(?\s*(-?\d+)\s*\)?", t.strip())
        return int(lm.group(1)) if lm else None

    def _ceil_floor_x(a):
        if len(a) != 1 or _int_lit(a[0]) is None:
            return None
        return f"CAST({_int_lit(a[0])} AS DOUBLE)"

    for _cfn in ("ceil", "ceiling", "floor"):
        sql = _rewrite_calls(sql, _cfn, _ceil_floor_x)

    def _round_int_x(a):
        if len(a) != 2:
            return None
        v, d = _int_lit(a[0]), _int_lit(a[1])
        if v is None or d is None:
            return None
        if d >= 0:
            return f"CAST({v} AS DOUBLE)"
        import decimal as _dec

        q = _dec.Decimal(v).quantize(
            _dec.Decimal(1).scaleb(-d), rounding=_dec.ROUND_HALF_UP
        )
        return f"CAST({int(q)} AS DOUBLE)"

    return _rewrite_calls(sql, "round", _round_int_x)


def rewrite_arithmetic_operators(sql: str) -> str:
    """DuckDB arithmetic spellings with different/absent Spark meanings:

    - ``a // b`` integer division → ``a div b`` (Spark's ``/`` is always
      fractional; ``//`` is a parse error).
    - ``a ** b`` and ``a ^ b`` power → ``power(a, b)``. CRITICAL: Spark
      parses ``^`` as bitwise XOR, so leaving it alone would silently
      compute the wrong thing — the one class of dialect gap that can't
      be allowed to fail loud-or-correct on its own.

    Operand scope (fuzz 49 — was a one-level regex that missed call
    results, negative right operands, and CASE blocks, leaving loud
    parse errors or, worse, matching `ND` inside `END`): operands are
    now found by a LINEAR token scan around each operator occurrence —
    balanced parens (any depth), call names, CASE…END blocks with
    nesting (token-counted), numbers/identifiers/placeholders, and a
    unary minus on the right. Regex backtracking never happens, so
    paren-heavy statements don't blow up."""
    operand = r"(\([^()]*\)|[A-Za-z_][A-Za-z0-9_.]*(?:\([^()]*\))?|\d+(?:\.\d+)?)"

    # a @> b / a <@ b list containment (batch 36): "a contains every
    # element of b" — forall over array_contains. Simple operands only.
    sql = re.sub(
        operand + r"\s*@>\s*" + operand,
        r"forall(\2, __ce -> array_contains(\1, __ce))",
        sql,
    )
    sql = re.sub(
        operand + r"\s*<@\s*" + operand,
        r"forall(\1, __ce -> array_contains(\2, __ce))",
        sql,
    )

    # @x prefix absolute value (batch 35/36). Probed precedence quirk:
    # unary @ binds LOOSER than binary +/- (@(-5) + @(-3) = abs(-5 +
    # abs(-3)) = 2), so each @ wraps everything to the next top-level
    # boundary (comma, closing paren, clause keyword). Right-to-left so
    # nested @ resolve inside-out. Guards: not ^@ (consumed upstream).
    # Probed DuckDB 1.0 (round 9): @ binds looser than * / % + - but
    # TIGHTER than comparisons, IN/IS/BETWEEN/LIKE, and || ('SELECT
    # @(-2) > 1' is true, '@(-2) IN (2)' is true) — so the span also
    # breaks at top-level comparison/concat operator characters and at
    # those keywords.
    _AT_BOUND = re.compile(
        r"\b(AS|FROM|WHERE|GROUP|ORDER|HAVING|LIMIT|QUALIFY|WINDOW"
        r"|UNION|INTERSECT|EXCEPT|AND|OR|THEN|ELSE|END|WHEN"
        r"|IN|IS|NOT|BETWEEN|LIKE|ILIKE|GLOB|SIMILAR"
        r"|DESC|ASC|NULLS)\b",
        re.IGNORECASE,
    )
    while True:
        at = -1
        for am in re.finditer(r"(?<![\^<\w@])@(?!>)", sql):
            at = am.start()
        if at == -1:
            break
        depth, j, n = 0, at + 1, len(sql)
        while j < n:
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and c == ",":
                break
            elif depth == 0 and c in "=<>!|&":
                break
            elif depth == 0 and c.isalpha():
                bm = _AT_BOUND.match(sql, j)
                if bm is not None:
                    break
                j2 = j
                while j2 < n and (sql[j2].isalnum() or sql[j2] in "_."):
                    j2 += 1
                j = j2 - 1
            j += 1
        sql = sql[:at] + "abs(" + sql[at + 1 : j].strip() + ")" + sql[j:]

    # // on a FLOAT literal operand is plain division in DuckDB
    # (probed batch 27: 7.5 // 2 = 3.75, typed DOUBLE); integer
    # operands truncate toward zero, which Spark's div matches
    # (-7 // 2 = -3 in both). Composed operands are sniffed for a
    # decimal-point NUMERIC literal anywhere in their text (fuzz 49:
    # (-3 - 12.5) // 100 is DuckDB plain division, -0.155 — string
    # literals are placeholders at this pass, so a visible `12.5` is a
    # genuine number). Column-typed floats remain statically unknowable
    # — they keep div (documented divergence).
    def render_intdiv(a: str, b: str) -> str:
        # DuckDB's // is integer division ONLY when both operands are
        # integer-typed; any float/decimal operand makes it PLAIN
        # division (probed: -15.5 // 100 = -0.155, 7.0 // 2 = 3.5).
        # Float markers visible textually: a decimal-point literal, a
        # DOUBLE/FLOAT cast, or ceil/floor/round/fmod/fdiv (DOUBLE- or
        # DECIMAL-typed in DuckDB for every input). String literals are
        # placeholders at this pass, so the digit scan can't false-hit.
        floatish = (
            r"\d+\.\d+|\bDOUBLE\b|\bFLOAT\b|\bceil(?:ing)?\s*\("
            r"|\bfloor\s*\(|\bround\s*\(|\bf(?:mod|div)\s*\("
        )
        if re.search(floatish, a + " " + b, re.IGNORECASE):
            # DOUBLE division like DuckDB. The operand (not just the
            # result) must be DOUBLE: Spark's DECIMAL/DECIMAL division
            # rounds to a fixed scale first (7 // 3.25 was 2.153846 vs
            # DuckDB's full-precision 2.1538461538… — fuzz 49)
            return f"(CAST({a} AS DOUBLE) / ({b}))"
        return f"{a} div {b}"

    # left-fold falls out of the rescan-from-replacement discipline:
    # a//b//c → "a div b // c" → "(a div b) div c"-equivalent flat text
    sql = _rewrite_binop(sql, re.compile(r"//"), render_intdiv)
    sql = _rewrite_binop(
        sql,
        re.compile(r"\*\*|\^(?!@)"),
        lambda a, b: f"power({a}, {b})",
    )
    return sql


_BINOP_KEYWORDS = _SQL_KEYWORDS_BEFORE_EXPR | {
    "when", "then", "else", "end", "group", "order", "partition", "over",
    "exists", "null", "true", "false",
}


def _scan_operand_left(s: str, i: int) -> tuple[int, int] | None:
    """Span of the expression operand ENDING just before index ``i``
    (whitespace-skipped): a balanced paren group with optional call
    name, a CASE…END block (token-counted nesting), or a single
    number/identifier/placeholder token. None when the text before the
    operator isn't a recognizable operand (keyword, empty, …)."""
    j = i
    while j > 0 and s[j - 1].isspace():
        j -= 1
    if j == 0:
        return None
    end = j
    if s[j - 1] == ")":
        depth, k = 0, j - 1
        while k >= 0:
            if s[k] == ")":
                depth += 1
            elif s[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            return None
        m = re.search(r"[A-Za-z_][\w.]*\s*$", s[:k])
        if m and m.group(0).strip().lower() not in _BINOP_KEYWORDS:
            return m.start(), end
        return k, end
    m = re.search(r"(?i)\bEND\s*$", s[:j])
    if m is not None:
        depth = 1
        for tm in reversed(
            list(re.finditer(r"(?i)\b(CASE|END)\b", s[: m.start()]))
        ):
            if tm.group(1).upper() == "END":
                depth += 1
            else:
                depth -= 1
                if depth == 0:
                    return tm.start(), end
        return None
    m = re.search(r"(\x00(?:LIT|IDQ|BTK)\d+\x00|[\w.]+)\s*$", s[:j])
    if m is None:
        return None
    tok = m.group(1)
    if tok.split(".")[-1].lower() in _BINOP_KEYWORDS:
        return None
    return m.start(1), end


def _scan_operand_right(s: str, i: int) -> tuple[int, int] | None:
    """Span of the expression operand STARTING at/after index ``i``:
    optional unary minus, then a paren group / call / CASE…END /
    number / identifier / placeholder."""
    j = i
    n = len(s)
    while j < n and s[j].isspace():
        j += 1
    if j >= n:
        return None
    start = j
    if s[j] == "-":
        j += 1
        while j < n and s[j].isspace():
            j += 1
        if j >= n:
            return None
    if s[j] == "(":
        close = _balanced_span(s, j)
        return (start, close + 1) if close > 0 else None
    cm = re.match(r"(?i)CASE\b", s[j:])
    if cm is not None:
        depth = 0
        for tm in re.finditer(r"(?i)\b(CASE|END)\b", s[j:]):
            if tm.group(1).upper() == "CASE":
                depth += 1
            else:
                depth -= 1
                if depth == 0:
                    return start, j + tm.end()
        return None
    m = re.match(r"\x00(?:LIT|IDQ|BTK)\d+\x00|\d+(?:\.\d+)?|[A-Za-z_][\w.]*", s[j:])
    if m is None:
        return None
    tok = m.group(0)
    if re.fullmatch(r"[A-Za-z_][\w.]*", tok):
        if tok.split(".")[-1].lower() in _BINOP_KEYWORDS:
            return None
        k = j + m.end()
        while k < n and s[k].isspace():
            k += 1
        if k < n and s[k] == "(":  # call suffix
            close = _balanced_span(s, k)
            return (start, close + 1) if close > 0 else None
    return start, j + m.end()


def _rewrite_binop(sql: str, op_pat: re.Pattern, render) -> str:
    """Replace every ``<operand> OP <operand>`` for an operator Spark
    lacks, finding operands with the linear scanners above. Occurrences
    whose operands aren't recognizable stay untouched (loud downstream
    — never a mangled fragment)."""
    pos = 0
    while True:
        m = op_pat.search(sql, pos)
        if m is None:
            return sql
        lo = _scan_operand_left(sql, m.start())
        ro = _scan_operand_right(sql, m.end())
        if lo is None or ro is None:
            pos = m.end()
            continue
        repl = render(sql[lo[0] : lo[1]], sql[ro[0] : ro[1]])
        sql = sql[: lo[0]] + repl + sql[ro[1] :]
        pos = lo[0]


_EXPR_SUBSCRIPT_FNS = {"try_element_at", "get"}
_MAP_PRODUCING = {"map", "map_from_entries", "map_from_arrays"}
# string-returning functions whose [i]/[a:b] subscripts are DuckDB
# 1-based CHARACTER access (batch 31) — substring, not element_at
_STRING_PRODUCING = {
    "upper", "lower", "ucase", "lcase", "trim", "ltrim", "rtrim", "btrim",
    "concat", "substr", "substring", "replace", "reverse", "repeat",
    "initcap", "strip_accents", "left", "right", "lpad", "rpad",
    "format", "printf", "chr", "translate",
}
_SUBSCRIPT_IDX = r"-?\d+|\x00LIT\d+\x00"


def _top_level_concat(text: str) -> bool:
    """True when ``text`` contains a ``||`` at paren/bracket depth 0."""
    depth = 0
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and ch == "|" and text[i : i + 2] == "||":
            return True
    return False


def _slice_expr(base: str, a: int | None, b: int | None, kind: str) -> str | None:
    """DuckDB 1-based inclusive slice ``x[a:b]`` with OPTIONAL bounds
    (wave 46: ``x[2:]``, ``x[:3]``, ``x[-3:]``, ``x[:-2]``, ``x[:]``
    were unhandled → Spark parse errors) → a Spark expression, for
    ``kind`` 'str' (substring) or 'arr' (slice). Bound conventions,
    probed on DuckDB v1.0: a missing start is 1, a missing end is the
    length; a negative bound counts from the end (-1 = last); bound 0
    behaves as 1 on the start side and as empty on the end side; an
    overshooting bound clamps to the container (fuzz-verified across
    250 random bound pairs incl. mixed-sign forms like s[2:-2])."""
    if b == 0:
        # end position 0 precedes any start: empty (probed, fuzz 46)
        return "''" if kind == "str" else "array()"
    if a == 0:
        a = None  # start 0 behaves as an open start (position 1)
    if a is None and b is None:
        return base
    if kind == "str":
        if b is None:
            # negative start works natively (substring counts from end)
            return f"substring({base}, {a})"
        if a is None:
            if b >= 0:
                return f"substring({base}, 1, {b})"
            return f"substring({base}, 1, greatest(0, length({base}) + {b} + 1))"
        if a > 0 and b < 0:
            # positive start, from-the-end stop: 'abcdef'[2:-2]='bcde'
            return (
                f"substring({base}, {a}, "
                f"greatest(0, length({base}) + {b} + 2 - {a}))"
            )
        if a < 0 and b > 0:
            s1 = f"greatest(length({base}) + {a} + 1, 1)"
            return (
                f"substring({base}, {s1}, "
                f"greatest(0, least({b}, length({base})) - {s1} + 1))"
            )
        if a >= 0:
            a = max(a, 1)  # same-sign: start 0 behaves as 1
        return "''" if b < a else f"substring({base}, {a}, {b - a + 1})"
    # arrays
    size = f"size({base})"
    if b is None:
        if a >= 0:
            a = max(a, 1)
            return f"slice({base}, {a}, greatest(0, {size} - {a} + 1))"
        return (
            f"(CASE WHEN {size} = 0 THEN array() ELSE "
            f"slice({base}, greatest({a}, -{size}), least({-a}, {size})) END)"
        )
    if a is None:
        if b >= 0:
            return f"slice({base}, 1, least({b}, {size}))"
        return f"slice({base}, 1, greatest(0, {size} + {b} + 1))"
    if a > 0 and b < 0:
        # positive start, from-the-end stop: l[2:-2] drops first 1 +
        # last 2 elements (end position size+b+1, inclusive)
        return (
            f"slice({base}, {a}, greatest(0, {size} + {b} + 2 - {a}))"
        )
    if a < 0 and b > 0:
        s1 = f"greatest({size} + {a} + 1, 1)"
        return (
            f"slice({base}, {s1}, "
            f"greatest(0, least({b}, {size}) - {s1} + 1))"
        )
    if a < 0:
        # both negative, with DuckDB's clamping of an overshooting
        # start to position 1 (fuzz 46: [-8:-3] on a 5-list is [1..3];
        # a raw slice(base, -8, 6) is an empty/invalid Spark window)
        e0 = f"({size} + {b} + 1)"
        s1 = f"greatest({size} + {a} + 1, 1)"
        return (
            f"(CASE WHEN {size} = 0 THEN array() ELSE "
            f"slice({base}, greatest({a}, -{size}), "
            f"greatest(0, {e0} - {s1} + 1)) END)"
        )
    a = max(a, 1)
    return "array()" if b < a else f"slice({base}, {a}, {b - a + 1})"


_NON_CALL_KEYWORDS = {
    "select", "where", "and", "or", "not", "then", "else", "when", "end",
    "by", "on", "from", "in", "as", "case", "union", "all", "distinct",
    "having", "join", "like", "ilike", "between", "is", "exists", "over",
    "partition", "order", "group", "limit", "offset", "values",
}


def rewrite_expr_subscripts(sql: str) -> str:
    """1-based subscripts whose BASE is an expression, not a column
    identifier (round-7 hunt 17 — all were silent 0-based off-by-ones
    or loud failures before):

    - ``fn(...)[i]`` for array-producing functions (split, list_sort,
      regexp_extract_all, …) → ``try_element_at`` (1-based, NULL OOB)
    - ``[literal, list][i]`` and ``[...][a:b]`` (incl. both-negative
      bounds) — runs BEFORE rewrite_array_literals, so the base is
      still bracket-form
    - ``'string literal'[i]`` / ``[a:b]`` — literals are stash
      placeholders at this point; negative indexes count from the end
      (Spark's substring supports negative starts natively)
    - ``MAP(...)[k]``: DuckDB returns a LIST — ``[value]``, or ``[]``
      when the key is missing (probed)

    Mixed-sign slice bounds keep their text (clamping semantics differ
    — loud failure downstream beats a silent wrong window)."""

    def str_idx(m):
        ph, i = m.group(1), int(m.group(2))
        if i == 0:
            return "''"  # DuckDB s[0] is ''
        return f"substring({ph}, {i}, 1)"

    sql = re.sub(r"(\x00LIT\d+\x00)\s*\[\s*(-?\d+)\s*\]", str_idx, sql)

    def str_slice(m):
        ph = m.group(1)
        a = int(m.group(2)) if m.group(2) else None
        b = int(m.group(3)) if m.group(3) else None
        repl = _slice_expr(ph, a, b, "str")
        return m.group(0) if repl is None else repl

    sql = re.sub(
        r"(\x00LIT\d+\x00)\s*\[\s*(-?\d+)?\s*:\s*(-?\d+)?\s*\]", str_slice, sql
    )

    array_fns = (
        _ARRAY_PRODUCING | _EXPR_SUBSCRIPT_FNS
    )
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch not in ")]}":
            out.append(ch)
            i += 1
            continue
        rest = sql[i + 1 :]
        m_idx = re.match(rf"\s*\[\s*({_SUBSCRIPT_IDX})\s*\]", rest)
        m_slc = re.match(r"\s*\[\s*(-?\d+)?\s*:\s*(-?\d+)?\s*\]", rest)
        m_stp = re.match(
            r"\s*\[\s*(\d+)\s*:\s*(\d+)\s*:\s*(\d+)\s*\]", rest
        )
        if m_idx is None and m_slc is None and m_stp is None:
            out.append(ch)
            i += 1
            continue
        done = "".join(out) + ch
        open_ch = {")": "(", "]": "[", "}": "{"}[ch]
        depth, j = 0, len(done) - 1
        while j >= 0:
            if done[j] == ch:
                depth += 1
            elif done[j] == open_ch:
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            out.append(ch)
            i += 1
            continue
        is_map = False
        is_str = False
        if ch == "}":
            # brace literal base: `MAP {…}[k]` (wave 46 — the function-
            # call form map_from_arrays(…)[k] was handled, but the MAP
            # literal rewrite runs AFTER this pass, so the brace
            # spelling slipped through as Spark's scalar subscript —
            # silently a bare value where DuckDB returns a LIST)
            mm = re.search(r"\bMAP\s*$", done[:j], re.IGNORECASE)
            if mm is None:
                out.append(ch)
                i += 1
                continue
            is_map = True
            base_start = mm.start()
        elif ch == ")":
            fm = re.search(r"([A-Za-z_][\w.]*)\s*$", done[:j])
            fname = fm.group(1).split(".")[-1].lower() if fm else None
            base_start = fm.start(1) if fm else None
            if fname in _NON_CALL_KEYWORDS:
                # a keyword before '(' means grouping paren, not a call
                fname, base_start = None, None
            is_map = fname in _MAP_PRODUCING
            is_str = fname in _STRING_PRODUCING
            if fname is None:
                # grouping paren, not a call: subscriptable when the
                # group's CONTENT pins the type — a bracket-form list
                # literal (array semantics) or a string literal
                # (substring) — e.g. ([1,2,3,4])[-2] (batch 25)
                inner = done[j + 1 : len(done) - 1].strip()
                ifm = re.match(r"([A-Za-z_]\w*)\s*\(", inner)
                if ifm is not None and _balanced_span(
                    inner, ifm.end() - 1
                ) != len(inner) - 1:
                    ifm = None  # group holds more than the one call
                if re.fullmatch(r"\[.*\]", inner, re.DOTALL):
                    base_start = j
                elif re.fullmatch(r"\x00LIT\d+\x00", inner):
                    # parenthesized string literal: the generic is_str
                    # paths below own single index AND slice forms
                    is_str = True
                    base_start = j
                elif ifm is not None and ifm.group(1).lower() in array_fns:
                    # parenthesized array-producing CALL — e.g.
                    # (list_sort(l))[2:3] (fuzz 49: the group pinned
                    # neither literal form, so the slice stayed raw)
                    base_start = j
                elif "||" in inner and _top_level_concat(inner):
                    # parenthesized || concatenation (fuzz 50:
                    # `('a' || b)[2:3]` stayed raw — a parse error).
                    # || is polymorphic in DuckDB: list-shaped first
                    # operand → array semantics, else string
                    if re.match(
                        r"\s*(?:\[|array\s*\(|list_)", inner, re.IGNORECASE
                    ):
                        base_start = j
                    else:
                        is_str = True
                        base_start = j
                elif re.match(
                    r"(?is)\(*\s*CASE\s+WHEN\s.*\bTHEN\s+array\s*\(", inner
                ) and inner.rstrip(" )").upper().endswith("END"):
                    # the map-subscript wrapper this very pass emits:
                    # (CASE WHEN map_contains_key(…) THEN array(…) ELSE
                    # array() END)[1] — the map[k][1] idiom's trailing
                    # subscript was silently 0-based (fuzz 49 extended
                    # grammar: returned NULL instead of the value)
                    base_start = j
                elif (
                    ifm is not None
                    and ifm.group(1).lower() in _STRING_PRODUCING
                ):
                    is_str = True
                    base_start = j
                else:
                    out.append(ch)
                    i += 1
                    continue
            elif not (is_map or is_str or fname in array_fns):
                out.append(ch)
                i += 1
                continue
        else:
            base_start = j
            pre = done[:j]
            # '[' directly abutting an identifier/)/]/placeholder is a
            # SUBSCRIPT of that base (column rewrites own those), not a
            # list literal
            if pre and (pre[-1].isalnum() or pre[-1] in "_.)]\x00"):
                out.append(ch)
                i += 1
                continue
        base = done[base_start:]
        if is_str and m_idx is not None and m_idx.group(1).lstrip("-").isdigit():
            i_val = int(m_idx.group(1))
            repl = "''" if i_val == 0 else f"substring({base}, {i_val}, 1)"
            out = list(done[:base_start])
            out.append(repl)
            i = i + 1 + m_idx.end()
            continue
        if is_str and m_slc is not None:
            a = int(m_slc.group(1)) if m_slc.group(1) else None
            b = int(m_slc.group(2)) if m_slc.group(2) else None
            repl = _slice_expr(base, a, b, "str")
            if repl is None:
                out.append(ch)
                i += 1
                continue
            out = list(done[:base_start])
            out.append(repl)
            i = i + 1 + m_slc.end()
            continue
        if is_str:
            out.append(ch)
            i += 1
            continue
        if m_idx is not None:
            idx = m_idx.group(1)
            if is_map:
                # try_element_at, NOT a native [idx] subscript: the
                # caller iterates this pass to a fixpoint, and a
                # re-emitted `MAP {…}[k]` would be re-wrapped forever
                repl = (
                    f"(CASE WHEN map_contains_key({base}, {idx}) "
                    f"THEN array(try_element_at({base}, {idx})) "
                    f"ELSE array() END)"
                )
            elif re.fullmatch(r"\x00LIT\d+\x00", idx):
                out.append(ch)  # quoted key on an array base: leave
                i += 1
                continue
            elif int(idx) == 0:
                repl = f"try_element_at({base}, CAST(NULL AS INT))"
            else:
                repl = f"try_element_at({base}, {idx})"
            consumed = m_idx.end()
        elif m_slc is not None:
            if is_map:
                out.append(ch)
                i += 1
                continue
            a = int(m_slc.group(1)) if m_slc.group(1) else None
            b = int(m_slc.group(2)) if m_slc.group(2) else None
            repl = _slice_expr(base, a, b, "arr")
            if repl is None:
                out.append(ch)
                i += 1
                continue
            consumed = m_slc.end()
        else:
            # stepped slice [a:b:c] on an expression base (batch 29):
            # positions a, a+c, … ≤ min(b, len) — the same guarded
            # transform-over-sequence as identifier bases
            if is_map:
                out.append(ch)
                i += 1
                continue
            a, b, c = (int(m_stp.group(k)) for k in (1, 2, 3))
            if a < 1 or c < 1:
                out.append(ch)
                i += 1
                continue
            repl = (
                "array()"
                if b < a
                else (
                    f"CASE WHEN size({base}) >= {a} THEN "
                    f"transform(sequence({a}, least({b}, size({base})), {c}), "
                    f"__si -> try_element_at({base}, __si)) ELSE array() END"
                )
            )
            consumed = m_stp.end()
        out = list(done[:base_start])
        out.append(repl)
        i = i + 1 + consumed
    return "".join(out)


def rewrite_bracket_slice(
    sql: str, array_columns: set[str] | None = None
) -> str:
    """DuckDB slice subscripts ``x[a:b]`` (1-based, inclusive both ends,
    strings AND lists) → ``substring(x, a, b-a+1)`` for strings,
    ``slice(x, a, b-a+1)`` for known array columns. Stepped slices
    ``x[a:b:c]`` (arrays only, as in DuckDB) → a guarded
    transform-over-sequence taking positions a, a+c, … ≤ min(b, len).
    Known array columns also get 1-based SINGLE subscripts ``x[i]`` →
    ``try_element_at`` (Spark's bare ``[i]`` is 0-based — a silent
    off-by-one otherwise; DuckDB returns NULL for index 0 and
    out-of-range, which try_element_at matches, with an explicit NULL
    for the 0 case try_element_at rejects). Unknown-type identifiers
    default to SUBSTRING for integer indexes, matching the slice
    convention below — on an actual array column that fails loudly,
    which beats the silent 0-based access it replaced (round-7 hunt
    17). Slice bounds cover every sign/openness combination via
    ``_slice_expr`` (wave 46: open-ended ``[a:]``/``[:b]``, negative
    open bounds, and mixed-sign ``[2:-2]`` were raw Spark parse
    errors; DuckDB's clamping fuzz-verified over 300 bound pairs).
    Expression bases — ``fn(...)[i]``, ``[1,2][i]``, ``'lit'[i]``,
    ``MAP(..)[k]`` — are handled by rewrite_expr_subscripts first, to
    a FIXPOINT: the scanner never re-reads its own replacement, so a
    chained subscript on a rewritten expression base
    (``MAP {…}['k'][1]``) only resolves on the next iteration (fuzz 49
    extended grammar: the trailing ``[1]`` stayed Spark-0-based and
    silently returned NULL)."""
    before = sql
    prev = None
    while prev != sql:
        prev = sql
        sql = rewrite_expr_subscripts(sql)
    arr = {c.lower() for c in (array_columns or set())}

    def is_arr(name: str) -> bool:
        return name.split(".")[-1].lower() in arr

    def sub_step(m: re.Match) -> str:
        name, a, b, c = (
            m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
        )
        if name.lower() in _NON_CALL_KEYWORDS:
            return m.group(0)
        if not is_arr(name) or a < 1 or c < 1:
            return m.group(0)
        if b < a:
            return "array()"
        return (
            f"CASE WHEN size({name}) >= {a} THEN "
            f"transform(sequence({a}, least({b}, size({name})), {c}), "
            f"__si -> try_element_at({name}, __si)) ELSE array() END"
        )

    sql = re.sub(
        r"([A-Za-z_][A-Za-z0-9_.]*)\s*\[\s*(\d+)\s*:\s*(\d+)\s*:\s*(\d+)\s*\]",
        sub_step,
        sql,
    )

    def sub(m: re.Match) -> str:
        # optional signed bounds, both sides (wave 46: negative
        # open-ended forms x[-3:] / x[:-2] and bare x[:] were raw)
        name = m.group(1)
        if name.lower() in _NON_CALL_KEYWORDS:
            return m.group(0)
        a = int(m.group(2)) if m.group(2) else None
        b = int(m.group(3)) if m.group(3) else None
        kind = "arr" if is_arr(name) else "str"
        repl = _slice_expr(name, a, b, kind)
        return m.group(0) if repl is None else repl

    sql = re.sub(
        r"([A-Za-z_][A-Za-z0-9_.]*)\s*\[\s*(-?\d+)?\s*:\s*(-?\d+)?\s*\]",
        sub,
        sql,
    )

    def sub_index(m: re.Match) -> str:
        name = m.group(1)
        if name.lower() in _NON_CALL_KEYWORDS:
            # keyword before '[': a LIST LITERAL follows, not a
            # subscript base — `SELECT [5]` was mangled into
            # substring(SELECT, 5, 1) (fuzz 49; only single-element
            # lists hit the single-index pattern, which is why every
            # multi-element literal in eight rounds of tests missed it)
            return m.group(0)
        if not is_arr(name):
            # unknown type: DuckDB integer subscripts on strings are
            # 1-based chars (negative = from the end) — substring
            # matches; an actual array column fails loudly here, which
            # beats the silent 0-based access Spark would do natively
            im = re.fullmatch(r"\s*\[\s*(-?\d+)\s*\]\s*", m.group(2))
            if im is None:
                return m.group(0)  # chained subscripts: leave as-is
            i = int(im.group(1))
            if i == 0:
                return "''"
            return f"substring({name}, {i}, 1)"
        # Rewrite the WHOLE subscript chain (x[1][2][3]) in one go —
        # rewriting only the first index left try_element_at(x, 1)[2]
        # behind, a silent 0-based access for every trailing subscript.
        expr = name
        for im in re.finditer(r"\[\s*(-?\d+)\s*\]", m.group(2)):
            i = int(im.group(1))
            if i == 0:
                # DuckDB x[0] is NULL; try_element_at rejects a literal
                # 0 — a NULL index yields a NULL of the element type
                expr = f"try_element_at({expr}, CAST(NULL AS INT))"
            else:
                expr = f"try_element_at({expr}, {i})"
        return expr

    sql = re.sub(
        r"([A-Za-z_][A-Za-z0-9_.]*)((?:\s*\[\s*-?\d+\s*\])+)",
        sub_index,
        sql,
    )
    if sql != before:
        # a rewrite may expose a CHAINED subscript whose new base is an
        # expression (`n_name[2:4][2:6]` → `substring(…)[2:6]`, fuzz
        # 50) — iterate until nothing changes
        return rewrite_bracket_slice(sql, array_columns)
    return sql


_STRING_SPLIT = re.compile(
    r"\b(?:string_split|str_split|string_to_array)\s*\(",
    re.IGNORECASE,
)


def rewrite_string_split(sql: str, stash: list[str]) -> str:
    """DuckDB ``string_split(s, d)`` (and aliases ``str_split`` /
    ``string_to_array``) split on a LITERAL delimiter; Spark's ``split``
    takes a regex — a bare rename silently corrupts delimiters like
    ``'.'`` or ``'|'``. When the delimiter is a string literal, lower to
    ``split(s, '\\Qd\\E')`` (Java regex literal quoting, safe for every
    delimiter that doesn't itself contain ``\\E``); a non-literal
    delimiter passes through un-renamed and fails loudly at the parser
    rather than splitting on the wrong thing."""
    out = []
    pos = 0
    for m in _STRING_SPLIT.finditer(sql):
        close = _balanced_span(sql, m.end() - 1, "(", ")")
        if close < 0:
            continue
        body = sql[m.end() : close]
        parts = _split_top_level(body)
        if len(parts) != 2:
            continue
        arg, delim = parts[0].strip(), parts[1].strip()
        lm = re.fullmatch(r"\x00LIT(\d+)\x00", delim)
        if not lm:
            continue  # non-literal delimiter: leave for a loud failure
        text = _lit_text(stash, lm.group(1))
        # Quote every delimiter char as a regex bracket class: '[.]'
        # matches a literal dot with NO backslashes, so the lowering is
        # immune to Spark's string-literal escape processing (a \Q…\E
        # form would need different backslash doubling per parser mode).
        # ']', '^', '\\' can't be bracket-quoted without backslashes —
        # those delimiters stay unrewritten and fail loudly at the
        # parser instead of splitting on the wrong pattern.
        if not text:
            # empty delimiter splits per character in BOTH engines
            # (probed batch 30: Spark split('abc','') == DuckDB)
            out.append(sql[pos : m.start()])
            out.append(f"split({arg}, {_stash_add(stash, chr(39) * 2)})")
            pos = close + 1
            continue
        if any(c in "]^\\" for c in text):
            continue
        pattern = "".join(f"[{c}]" for c in text)
        quoted = _stash_add(stash, "'" + pattern.replace("'", "''") + "'")
        out.append(sql[pos : m.start()])
        out.append(f"split({arg}, {quoted})")
        pos = close + 1
    out.append(sql[pos:])
    return "".join(out)


def rewrite_regex_operators(sql: str, stash: list[str] | None = None) -> str:
    """DuckDB's ``expr ~ 'p'`` / ``!~`` / ``SIMILAR TO 'p'`` are FULL
    matches (``~`` is regexp_full_match, unlike Postgres's partial ``~``)
    → RLIKE with the pattern literal anchored as ``'^(?:p)$'``.

    Operates on literal-protected SQL: pattern literals are resolved
    through ``stash`` and the anchored patterns stashed back, so an
    operator spelled *inside* an ordinary string literal (``'a!~b'``)
    is never touched. A non-literal pattern (column/expr) falls back to
    a plain RLIKE operator mapping — partial match; anchor explicitly
    in that rare case."""
    if stash is None:
        sql, local = _protect_literals(sql)
        return _restore_literals(rewrite_regex_operators(sql, local), local)

    ident = r"([A-Za-z_][A-Za-z0-9_.]*|\"[^\"]+\"|\x00IDQ\d+\x00|\))"
    ph = r"\x00LIT(\d+)\x00"

    def anchored(idx: str) -> str:
        pat = stash[int(idx)][1:-1]  # keep '' escapes verbatim
        return _stash_add(stash, f"'^(?:{pat})$'")

    # ^@ starts-with operator (before the power-^ arithmetic pass);
    # LHS operand found with the right-to-left scanner so call and
    # parenthesized operands work (lower(x) ^@ 'a')
    while True:
        m = re.search(r"\s*\^@\s*(\x00LIT\d+\x00|[A-Za-z_][A-Za-z0-9_.]*)", sql)
        if m is None:
            break
        s = _operand_start(sql, m.start() - 1)
        if s is None:
            break  # malformed: leave for Spark's parser — loud
        sql = (
            sql[:s]
            + f"startswith({sql[s : m.start()].strip()}, {m.group(1)})"
            + sql[m.end() :]
        )

    # GLOB: full-match shell patterns → anchored RLIKE ('*'→'.*',
    # '?'→'.', '[!..]'→'[^..]', regex specials escaped). Non-literal
    # patterns fall through to Spark's parser — loud, not silent.
    def glob_re(idx: str) -> str:
        pat = stash[int(idx)][1:-1]
        out, i = [], 0
        while i < len(pat):
            c = pat[i]
            if c == "*":
                out.append(".*")
            elif c == "?":
                out.append(".")
            elif c == "[":
                j = pat.find("]", i + 1)
                if j == -1:
                    out.append(re.escape(c))
                else:
                    body = pat[i + 1 : j]
                    if body.startswith("!"):
                        body = "^" + body[1:]
                    out.append("[" + body + "]")
                    i = j
            else:
                out.append(re.escape(c))
            i += 1
        return _stash_add(stash, "'^(?:" + "".join(out) + ")$'")

    sql = re.sub(
        ident + r"\s+GLOB\s+" + ph,
        lambda m: f"{m.group(1)} RLIKE {glob_re(m.group(2))}",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        ident + r"\s+NOT\s+GLOB\s+" + ph,
        lambda m: f"{m.group(1)} NOT RLIKE {glob_re(m.group(2))}",
        sql,
        flags=re.IGNORECASE,
    )

    sql = re.sub(
        ident + r"\s*!~\s*" + ph,
        lambda m: f"{m.group(1)} NOT RLIKE {anchored(m.group(2))}",
        sql,
    )
    sql = re.sub(
        ident + r"\s*~\s*" + ph,
        lambda m: f"{m.group(1)} RLIKE {anchored(m.group(2))}",
        sql,
    )
    sql = re.sub(
        r"\bNOT\s+SIMILAR\s+TO\s+" + ph,
        lambda m: f"NOT RLIKE {anchored(m.group(1))}",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"\bSIMILAR\s+TO\s+" + ph,
        lambda m: f"RLIKE {anchored(m.group(1))}",
        sql,
        flags=re.IGNORECASE,
    )
    # non-literal pattern fallback: operator mapping only (partial match).
    # ``!~`` first so the bare-``~`` pass only sees what's left; the
    # ident guard keeps unary bitwise-style ``~x`` spellings untouched.
    sql = re.sub(ident + r"\s*!~\s*", r"\1 NOT RLIKE ", sql)
    sql = re.sub(ident + r"\s*~\s*", r"\1 RLIKE ", sql)
    sql = re.sub(r"\bNOT\s+SIMILAR\s+TO\b", "NOT RLIKE", sql, flags=re.IGNORECASE)
    sql = re.sub(r"\bSIMILAR\s+TO\b", "RLIKE", sql, flags=re.IGNORECASE)
    return sql


_ANY_ALL = re.compile(
    r"((?:[A-Za-z_][\w.]*|\x00LIT\d+\x00|\d+(?:\.\d+)?))\s*"
    r"(=|<>|!=|<=|>=|<|>)\s*(ANY|ALL|SOME)\s*\(",
    re.IGNORECASE,
)


def _quantified_subquery(
    operand: str, op: str, quant: str, args: str
) -> str | None:
    """Ordering-op quantified subqueries — ``x > ALL (SELECT …)`` — as
    one scalar aggregate subquery over the extreme value, with the
    standard's exact NULL/empty semantics (wave 44; was a loud
    fall-through):

    - empty set: ALL → true, ANY → false
    - NULL operand over a non-empty set → NULL
    - all-NULL set → NULL
    - extreme comparison decides; a remaining NULL element makes a
      would-be-decisive-by-default answer UNKNOWN (ALL: passes extreme
      but set has NULLs → NULL; ANY: fails extreme but set has NULLs →
      NULL).

    ``agg``: > / >= quantify against max (ALL) or min (ANY); < / <= the
    mirror; = ALL needs min = max = x; <> ANY its negation. Correlated
    subqueries ride Spark's correlated-scalar-subquery support; shapes
    it rejects fail loudly."""
    o = op if op != "!=" else "<>"
    is_all = quant == "ALL"
    if o in (">", ">="):
        agg = "max" if is_all else "min"
        cond = f"({operand}) {o} {agg}(__qe)"
    elif o in ("<", "<="):
        agg = "min" if is_all else "max"
        cond = f"({operand}) {o} {agg}(__qe)"
    elif o == "=" and is_all:
        cond = f"(({operand}) = min(__qe) AND ({operand}) = max(__qe))"
    elif o == "<>" and not is_all:
        cond = f"(min(__qe) <> ({operand}) OR max(__qe) <> ({operand}))"
    else:
        return None
    empty_val = "true" if is_all else "false"
    # The OPERAND may reference outer columns, and Spark rejects outer
    # references inside a scalar subquery's project list — so every
    # aggregate is its own uncorrelated scalar subquery and all operand
    # comparisons stay OUTSIDE (identical subquery plans collapse via
    # ReusedSubquery).
    def q(aggexpr: str) -> str:
        return f"(SELECT {aggexpr} FROM ({args}) AS __qsub(__qe))"

    cond = cond.replace("min(__qe)", q("min(__qe)")).replace(
        "max(__qe)", q("max(__qe)")
    )
    n_all, n_nn = q("count(*)"), q("count(__qe)")
    if is_all:
        decide = (
            f"WHEN NOT {cond} THEN false "
            f"WHEN {n_nn} < {n_all} THEN CAST(NULL AS BOOLEAN) "
            f"ELSE true"
        )
    else:
        decide = (
            f"WHEN {cond} THEN true "
            f"WHEN {n_nn} < {n_all} THEN CAST(NULL AS BOOLEAN) "
            f"ELSE false"
        )
    return (
        f"(CASE WHEN {n_all} = 0 THEN {empty_val} "
        f"WHEN ({operand}) IS NULL THEN CAST(NULL AS BOOLEAN) "
        f"WHEN {n_nn} = 0 THEN CAST(NULL AS BOOLEAN) "
        f"{decide} END)"
    )


def rewrite_any_all(sql: str) -> str:
    """DuckDB quantified comparisons over LISTS — ``x = ANY(arr)`` /
    ``x > ALL(arr)`` — lower to Spark's higher-order ``exists``/
    ``forall`` (codegen'd, no explode). Subquery forms map to IN/NOT IN
    for (in)equality; other subquery quantifiers fall through loudly.
    Simple left operands only (identifier / literal / number)."""
    while True:
        m = _ANY_ALL.search(sql)
        if m is None:
            return sql
        operand, op, quant = m.group(1), m.group(2), m.group(3).upper()
        open_idx = m.end() - 1
        close = _balanced_span(sql, open_idx)
        if close == -1:
            return sql
        args = sql[open_idx + 1 : close].strip()
        if re.match(r"^(SELECT|FROM|WITH|VALUES)\b", args, re.IGNORECASE):
            if op == "=" and quant in ("ANY", "SOME"):
                repl = f"{operand} IN ({args})"
            elif op in ("<>", "!=") and quant == "ALL":
                repl = f"{operand} NOT IN ({args})"
            else:
                repl = _quantified_subquery(operand, op, quant, args)
                if repl is None:
                    return sql
        else:
            fn = "exists" if quant in ("ANY", "SOME") else "forall"
            repl = f"{fn}({args}, __qq -> {operand} {op} __qq)"
        sql = sql[: m.start()] + repl + sql[close + 1 :]


def rewrite_columns_regex(sql: str, columns: list[str] | None) -> str:
    """DuckDB's ``COLUMNS(…)`` star-expansion → explicit column list.
    Forms: ``COLUMNS('regex')``, ``COLUMNS(*)``,
    ``COLUMNS(* EXCLUDE (a, b))``, and the name-lambda
    ``COLUMNS(c -> c LIKE 'pat')``. A COLUMNS() call wrapped in an
    outer function — ``min(COLUMNS(*))`` — expands to one call per
    column (DuckDB's per-column application). Schema-aware: only
    possible when the caller supplies the relation's columns
    (Dataset.query does); left untouched otherwise."""
    if columns is None:
        return sql

    def select_cols(body: str) -> list[str] | None:
        body = body.strip()
        lm = re.fullmatch(r"'([^']*)'", body)
        if lm:
            pat = re.compile(lm.group(1))
            return [c for c in columns if pat.search(c)]
        if body == "*":
            return list(columns)
        # list-of-names form (probed batch 39): COLUMNS(['a','b'])
        # expands to exactly those columns, in the GIVEN order; DuckDB
        # errors on unknown names — an unknown name here keeps the call
        # intact so Spark errors loudly too.
        km = re.fullmatch(r"\[\s*('[^']*'\s*(?:,\s*'[^']*'\s*)*)\]", body)
        if km:
            names = [
                n.strip().strip("'") for n in km.group(1).split(",")
            ]
            by_lower = {c.lower(): c for c in columns}
            if all(n.lower() in by_lower for n in names):
                return [by_lower[n.lower()] for n in names]
            return None
        em = re.fullmatch(
            r"\*\s+EXCLUDE\s*\(([^)]*)\)", body, re.IGNORECASE
        )
        if em:
            drop = {
                c.strip().strip('"').lower() for c in em.group(1).split(",")
            }
            return [c for c in columns if c.lower() not in drop]
        gm = re.fullmatch(
            r"(\w+)\s*->\s*\1\s+LIKE\s+'([^']*)'", body, re.IGNORECASE
        )
        if gm:
            # name-lambda with a LIKE pattern: translate % / _ globs
            rx = re.compile(
                "^"
                + re.escape(gm.group(2)).replace("%", ".*").replace("_", ".")
                + "$",
                re.IGNORECASE,
            )
            return [c for c in columns if rx.match(c)]
        return None

    # applied form first: fn(COLUMNS(…)) → fn(c1), fn(c2), …
    def expand_applied(m: re.Match) -> str:
        fn = m.group(1)
        if fn.lower() in ("select", "where", "and", "or", "on", "by"):
            return m.group(0)
        hits = select_cols(m.group(2))
        if not hits:
            return m.group(0)
        return ", ".join(f"{fn}(`{c}`)" for c in hits)

    sql = re.sub(
        r"\b([A-Za-z_]\w*)\s*\(\s*COLUMNS\s*\(((?:[^()]|\([^()]*\))*)\)\s*\)",
        expand_applied,
        sql,
        flags=re.IGNORECASE,
    )

    def expand(m: re.Match) -> str:
        hits = select_cols(m.group(1))
        if not hits:
            return m.group(0)
        return ", ".join(f"`{c}`" for c in hits)

    return re.sub(
        r"COLUMNS\s*\(((?:[^()]|\([^()]*\))*)\)",
        expand,
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_sample(sql: str) -> str:
    """``USING SAMPLE 10% [(bernoulli|system|reservoir)]`` →
    ``TABLESAMPLE (10 PERCENT)`` / ``… 100 ROWS …`` → ``(100 ROWS)``
    (the method parenthetical names an algorithm choice Spark makes
    itself — row-level Bernoulli for percent, limit-style for rows)."""
    method = r"(?:\s*\(\s*(?:bernoulli|system|reservoir)\s*\))?"
    sql = re.sub(
        r"USING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)" + method,
        r"TABLESAMPLE (\1 PERCENT)",
        sql,
        flags=re.IGNORECASE,
    )
    sql = re.sub(
        r"USING\s+SAMPLE\s+(\d+)(\s+ROWS)?\b" + method,
        r"TABLESAMPLE (\1 ROWS)",
        sql,
        flags=re.IGNORECASE,
    )
    return sql


def rewrite_collate(sql: str) -> str:
    """DuckDB collation names → Spark 4 collation identifiers
    (``COLLATE NOCASE`` → ``COLLATE UTF8_LCASE``)."""
    return re.sub(
        r"\bCOLLATE\s+NOCASE\b",
        "COLLATE UTF8_LCASE",
        sql,
        flags=re.IGNORECASE,
    )


_FRAME_INSENSITIVE_FNS = (
    r"row_number|rank|dense_rank|percent_rank|ntile|cume_dist|lag|lead"
)


def rewrite_rank_frames(sql: str) -> str:
    """DuckDB ACCEPTS (and ignores) an explicit window frame on the
    rank family and lag/lead — the functions are frame-insensitive by
    definition. Spark REJECTS the same spelling ("must match the
    required frame" / "Cannot specify window frame for lead"), so a
    user frame copied across expressions in one OVER clause broke only
    on Spark (window fuzz, wave 51). Strip the frame (incl. EXCLUDE)
    from the inline OVER of those functions; named-window references
    are left alone (shared by frame-SENSITIVE members — loud there)."""
    pat = re.compile(
        rf"\b(?:{_FRAME_INSENSITIVE_FNS})\s*\(", re.IGNORECASE
    )
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            return sql
        close = _balanced_span(sql, m.end() - 1)
        if close == -1:
            return sql
        om = re.match(r"\s*OVER\s*\(", sql[close + 1 :], re.IGNORECASE)
        if om is None:
            pos = close + 1
            continue
        ostart = close + 1 + om.end() - 1
        oclose = _balanced_span(sql, ostart)
        if oclose == -1:
            return sql
        body = sql[ostart + 1 : oclose]
        fm = None
        depth = 0
        for i, ch in enumerate(body):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and re.match(
                r"(?i)(?:ROWS|RANGE|GROUPS)\b", body[i:]
            ) and (i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")):
                fm = i
                break
        if fm is None:
            pos = oclose + 1
            continue
        new_body = body[:fm].rstrip()
        sql = sql[: ostart + 1] + new_body + sql[oclose:]
        pos = ostart + 1 + len(new_body) + 1


def rewrite_window_chain(sql: str) -> str:
    """DuckDB allows a named window to EXTEND another —
    ``WINDOW w1 AS (ORDER BY x), w2 AS (w1 ROWS …)`` — Spark only
    supports flat definitions: inline each referenced definition.
    Operates only inside the WINDOW clause (a CTE's ``name AS (…)``
    never qualifies)."""
    m = re.search(
        r"\bWINDOW\s+(?=[A-Za-z_]\w*\s+AS\s*\()", sql, re.IGNORECASE
    )
    if m is None:
        return sql
    # clause extent: defs are `name AS (…)` joined by commas; stop at
    # the first thing that isn't another definition
    region_re = re.compile(
        r"\s*,?\s*([A-Za-z_]\w*)\s+AS\s+\(([^()]*)\)", re.IGNORECASE
    )
    defs: list[tuple[str, str]] = []
    pos = m.end()
    while True:
        dm = region_re.match(sql, pos)
        if dm is None:
            break
        defs.append((dm.group(1), dm.group(2)))
        pos = dm.end()
    if not defs:
        return sql
    # Multi-level chains resolve with DuckDB's MEASURED (non-standard,
    # NON-TRANSITIVE) semantics: a child window inlines its parent's RAW
    # body with the parent's own leading window-reference DELETED —
    # inheritance reaches exactly one hop. Verified live and pinned by
    # the differential corpus:
    #   w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY k), w3 AS (w2 ROWS …)
    #   → w3 = (ORDER BY k ROWS …)        — grandparent's PARTITION gone
    #   w1 AS (ORDER BY k), w2 AS (w1), w3 AS (w2)
    #   → w3 = ()                          — a pure-alias hop erases too
    names = {n.lower() for n, _ in defs}
    orig = {n.lower(): b for n, b in defs}

    def own_body(name: str) -> str:
        """The window's raw body minus its own leading reference."""
        body = orig[name]
        fm = re.match(r"\s*([A-Za-z_]\w*)\b(.*)$", body, re.DOTALL)
        if fm and fm.group(1).lower() in names:
            return fm.group(2).strip()
        return body.strip()

    final: dict[str, str] = {}
    for name, body in defs:
        fm = re.match(r"\s*([A-Za-z_]\w*)\b(.*)$", body, re.DOTALL)
        if fm and fm.group(1).lower() in names:
            parent = fm.group(1).lower()
            final[name.lower()] = (
                f"{own_body(parent)} {fm.group(2).strip()}".strip()
            )
        else:
            final[name.lower()] = body
    rebuilt = ", ".join(
        f"{name} AS ({final[name.lower()]})" for name, _ in defs
    )
    return sql[: m.end()] + rebuilt + sql[pos:]


def _depth_at(sql: str, idx: int) -> int:
    """Paren/bracket depth of position ``idx``."""
    depth = 0
    for ch in sql[:idx]:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
    return depth


def rewrite_from_first(sql: str) -> str:
    """DuckDB FROM-first syntax (``FROM t WHERE …``, no SELECT clause).

    Spark 4 natively parses ``FROM t`` and ``FROM t SELECT …`` but
    rejects a FROM-first query whose remaining clauses carry no SELECT
    (``FROM t WHERE x > 1``). Insert ``SELECT *`` into any scope — the
    statement itself or a parenthesized subquery — that starts with FROM
    and has no top-level SELECT; everything else is left to Spark's own
    parser. Runs on literal-protected text. Reference surface: user SQL
    pass-through (src/worker.ts:516-541 → duckdb-backend.ts:142-146).
    CTE-headed statements (``WITH … FROM c WHERE …``) are out of scope;
    parenthesized FROM-first subqueries inside CTEs are handled."""

    def fix_scope(scope: str) -> str:
        if not re.match(r"\s*FROM\b", scope, re.IGNORECASE):
            return scope
        for m in re.finditer(r"\bSELECT\b", scope, re.IGNORECASE):
            if _depth_at(scope, m.start()) == 0:
                return scope
        lead = len(scope) - len(scope.lstrip())
        return scope[:lead] + "SELECT * " + scope[lead:]

    out: list[str] = []
    i = 0
    while i < len(sql):
        if sql[i] == "(":
            end = _balanced_span(sql, i)
            if end != -1:
                inner = rewrite_from_first(sql[i + 1 : end])
                out.append("(" + fix_scope(inner) + ")")
                i = end + 1
                continue
        out.append(sql[i])
        i += 1
    return fix_scope("".join(out))


_NOT_IN_SUBQ = re.compile(
    r"(?P<key>\d+(?:\.\d+)?|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"
    r"\s+NOT\s+IN\s*\(",
    re.IGNORECASE,
)

_IN_SUBQ = re.compile(
    r"(?P<key>\d+(?:\.\d+)?|[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)"
    r"\s+(?P<neg>NOT\s+)?IN\s*\(",
    re.IGNORECASE,
)


def rewrite_not_in_subquery(sql: str) -> str:
    """``key NOT IN (SELECT …)`` → the null-faithful double-NOT-EXISTS
    form::

        (key IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM (SUB) a(__k) WHERE a.__k = key)
         AND NOT EXISTS (SELECT 1 FROM (SUB) b(__k) WHERE b.__k IS NULL))

    Identical three-valued semantics (x NULL → filtered; any NULL in the
    subquery → everything filtered), but Catalyst plans the correlated
    NOT EXISTS as a plain (broadcastable) LEFT ANTI hash join instead of
    a null-aware anti join — NAAJ is broadcast-only and builds a
    driver-side set, a known scale trap on large build sides (q53 at
    sf10: 3.9 s → anti join). The derived-table column alias ``(__k)``
    renames the subquery output, so a same-named outer column still
    resolves to the OUTER scope exactly as it did inside NOT IN.

    Only fires when the predicate is a *top-level filter conjunct* — the
    token before the key is WHERE/AND/HAVING/ON (so FALSE-vs-NULL is
    indistinguishable: both filter the row) and the token after the
    subquery is a clause boundary, not OR or an operator. Projected
    ``SELECT x NOT IN (…)`` must yield NULL for NULL x, and under
    ``NOT (…)`` / ``… OR …`` the FALSE-for-NULL collapse changes which
    rows survive — those shapes keep Spark's native (correct, slower)
    null-aware anti join. Reserved words (END, THEN, NULL, …) are never
    a key — ``CASE … END NOT IN (SELECT …)`` stays on the NAAJ path.

    The trailing ``OR NOT EXISTS (… LIMIT 1)`` branch covers the empty-
    subquery case: ``x NOT IN (empty)`` is TRUE even for NULL x, which
    the ``key IS NOT NULL`` conjunct would otherwise mis-filter. It is
    uncorrelated — one column-pruned, early-terminating probe — and the
    correlated NOT EXISTS under OR still plans as a hash ExistenceJoin
    on Spark 4, not a driver-side NAAJ set."""
    out, pos, n = [], 0, 0
    while True:
        m = _NOT_IN_SUBQ.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        inner = sql[open_idx + 1 : close_idx].strip() if close_idx != -1 else ""
        if close_idx == -1 or not re.match(r"SELECT\b", inner, re.IGNORECASE):
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        key = m.group("key")
        before = sql[: m.start()].rstrip()
        after = sql[close_idx + 1 :].lstrip()
        prev_word = re.search(r"([A-Za-z_]\w*)$", before)
        conjunct = (
            prev_word is not None
            and prev_word.group(1).upper() in ("WHERE", "AND", "HAVING", "ON")
            # `BETWEEN lo AND key NOT IN …`: that AND belongs to BETWEEN,
            # the predicate is `(expr BETWEEN lo AND key) NOT IN …`.
            and not re.search(
                r"\bBETWEEN\b(?:(?!\bAND\b).)*\bAND\s*$",
                before,
                re.IGNORECASE | re.DOTALL,
            )
            # follower must close the conjunct: clause keyword, `)`, or end
            and (
                after == ""
                or after[0] == ")"
                or re.match(
                    r"(?:AND|GROUP|ORDER|HAVING|QUALIFY|WINDOW|LIMIT"
                    r"|OFFSET|FETCH|UNION|INTERSECT|EXCEPT)\b",
                    after,
                    re.IGNORECASE,
                )
            )
            and key.upper()
            not in (
                "END", "ELSE", "THEN", "WHEN", "CASE", "NULL", "TRUE",
                "FALSE", "AND", "OR", "NOT", "IS", "IN", "BETWEEN", "LIKE",
                "EXISTS", "SELECT", "DISTINCT", "ALL", "ANY", "SOME",
            )
        )
        if not conjunct:
            prev_ch = before[-1:]
            reserved = key.upper() in (
                "END", "ELSE", "THEN", "WHEN", "CASE", "NULL", "TRUE",
                "FALSE", "AND", "OR", "NOT", "IS", "IN", "BETWEEN", "LIKE",
                "EXISTS", "SELECT", "DISTINCT", "ALL", "ANY", "SOME",
            )
            if reserved or prev_ch in set("+-*/%^|&~."):
                # key is the tail of a larger expression — native path;
                # still recurse into the subquery for rewritable shapes
                out.append(sql[pos : open_idx + 1])
                out.append(
                    rewrite_not_in_subquery(sql[open_idx + 1 : close_idx])
                )
                out.append(")")
                pos = close_idx + 1
                continue
            # expression context (projection, under NOT/OR, …): Spark's
            # native ExistenceJoin lowering projects FALSE where ANSI /
            # DuckDB yield NULL — use a null-faithful CASE over EXISTS
            # probes (all hash-joinable ExistenceJoins, no NAAJ)
            inner = rewrite_not_in_subquery(inner)
            a, b, c = f"__nin{n}a", f"__nin{n}b", f"__nin{n}c"
            n += 1
            out.append(sql[pos : m.start()])
            out.append(
                f"(CASE WHEN NOT EXISTS (SELECT 1 FROM ({inner}) {c}(__k)"
                f" LIMIT 1) THEN TRUE"
                f" WHEN EXISTS (SELECT 1 FROM ({inner}) {a}(__k)"
                f" WHERE {a}.__k = {key}) THEN FALSE"
                f" WHEN {key} IS NULL OR EXISTS (SELECT 1 FROM ({inner})"
                f" {b}(__k) WHERE {b}.__k IS NULL) THEN NULL"
                f" ELSE TRUE END)"
            )
            pos = close_idx + 1
            continue
        inner = rewrite_not_in_subquery(inner)  # nested NOT INs
        a, b, c = f"__nin{n}a", f"__nin{n}b", f"__nin{n}c"
        n += 1
        out.append(sql[pos : m.start()])
        out.append(
            f"(({key} IS NOT NULL"
            f" AND NOT EXISTS (SELECT 1 FROM ({inner}) {a}(__k)"
            f" WHERE {a}.__k = {key})"
            f" AND NOT EXISTS (SELECT 1 FROM ({inner}) {b}(__k)"
            f" WHERE {b}.__k IS NULL))"
            f" OR NOT EXISTS (SELECT 1 FROM ({inner}) {c}(__k) LIMIT 1))"
        )
        pos = close_idx + 1


def rewrite_in_subquery_projection(sql: str) -> str:
    """Projected ``key IN (SELECT …)`` (batch 30): Spark's ListQuery
    lowering projects FALSE where ANSI/DuckDB yield NULL — when the
    subquery can't match but contains a NULL, or the key is NULL and
    the subquery is non-empty. Same null-faithful CASE-over-EXISTS
    treatment as the projected NOT IN branch above (all probes plan as
    hash ExistenceJoins). WHERE/HAVING conjuncts keep the native path:
    FALSE and NULL filter identically there, and Spark's native semi
    join is the cheaper plan. Runs AFTER rewrite_not_in_subquery; a
    ``NOT IN`` match here means that pass deliberately left it native
    (conjunct) — skipped."""
    out, pos, n = [], 0, 0
    while True:
        m = _IN_SUBQ.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        inner = sql[open_idx + 1 : close_idx].strip() if close_idx != -1 else ""
        if (
            m.group("neg")
            or close_idx == -1
            or not re.match(r"SELECT\b", inner, re.IGNORECASE)
        ):
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        key = m.group("key")
        before = sql[: m.start()].rstrip()
        prev_word = re.search(r"([A-Za-z_]\w*)$", before)
        prev_ch = before[-1:]
        reserved = key.upper() in (
            "END", "ELSE", "THEN", "WHEN", "CASE", "NULL", "TRUE",
            "FALSE", "AND", "OR", "NOT", "IS", "IN", "BETWEEN", "LIKE",
            "EXISTS", "SELECT", "DISTINCT", "ALL", "ANY", "SOME",
        )
        conjunct = prev_word is not None and prev_word.group(1).upper() in (
            "WHERE", "AND", "HAVING", "ON", "QUALIFY",
        )
        if reserved or conjunct or prev_ch in set("+-*/%^|&~."):
            # conjunct (native semi join is correct there) or the key is
            # the tail of a larger expression — leave; still recurse
            # into the subquery
            out.append(sql[pos : open_idx + 1])
            out.append(rewrite_in_subquery_projection(inner))
            out.append(")")
            pos = close_idx + 1
            continue
        inner = rewrite_in_subquery_projection(inner)
        a, b, c = f"__pin{n}a", f"__pin{n}b", f"__pin{n}c"
        n += 1
        out.append(sql[pos : m.start()])
        out.append(
            f"(CASE WHEN EXISTS (SELECT 1 FROM ({inner}) {a}(__k)"
            f" WHERE {a}.__k = {key}) THEN TRUE"
            f" WHEN NOT EXISTS (SELECT 1 FROM ({inner}) {c}(__k)"
            f" LIMIT 1) THEN FALSE"
            f" WHEN {key} IS NULL OR EXISTS (SELECT 1 FROM ({inner})"
            f" {b}(__k) WHERE {b}.__k IS NULL) THEN NULL"
            f" ELSE FALSE END)"
        )
        pos = close_idx + 1


def rewrite_series_table_functions(sql: str) -> str:
    """DuckDB inline-series table functions (SURVEY §2B values/inline):

    - ``FROM range(a[,b[,step]])`` — end-exclusive, column ``range`` →
      Spark's native ``range()`` table function (scales: it's a
      partitioned leaf, not a materialized array) with the column
      renamed from ``id``.
    - ``FROM generate_series(a,b[,step])`` — end-INCLUSIVE, column
      ``generate_series`` → ``explode(sequence(...))`` (sequence is
      inclusive, matching; bounded arrays by definition — inline tables,
      not bulk ranges).

    Scalar ``generate_series(a,b)`` (returns a LIST in DuckDB) maps to
    ``sequence`` via rewrite_function_renames' table. Timestamp ranges
    with INTERVAL steps lower through sequence() on both forms."""
    # lateral unnest (batch 31): ``FROM t, unnest(E) AS a(c)`` /
    # ``CROSS JOIN unnest(E) AS a(c)`` where E may reference t's columns
    # — the subquery form below can't correlate; LATERAL VIEW explode
    # can (and is also correct for constant E). Gated on the a(c)
    # table-alias form so SELECT-position unnests (handled by
    # rewrite_multi_unnest) are never touched.
    pat = re.compile(
        r"(,|\bCROSS\s+JOIN\b)\s*unnest\s*\(", re.IGNORECASE
    )
    pos = 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            break
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        if close_idx == -1:
            break
        am = re.match(
            r"\s*(?:AS\s+)?([A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)",
            sql[close_idx + 1 :],
            re.IGNORECASE,
        )
        if am is None:
            pos = close_idx + 1
            continue
        args = sql[open_idx + 1 : close_idx]
        repl = f" LATERAL VIEW explode({args}) {am.group(1)} AS {am.group(2)}"
        sql = (
            sql[: m.start()] + repl + sql[close_idx + 1 + am.end() :]
        )
        pos = m.start() + len(repl)

    def _temporal_args(args: str) -> list[str] | None:
        """For a temporal series call, the arg list with DATE literal
        endpoints cast to TIMESTAMP (DuckDB yields TIMESTAMP rows for
        date series — probed, batch 25); None if not temporal."""
        if "\x00" not in args and not re.search(
            r"\bINTERVAL\b", args, re.IGNORECASE
        ):
            return None
        items = _split_top_level(args)
        out = []
        for i, it in enumerate(items):
            it = it.strip()
            if i < 2 and re.match(r"DATE\b", it, re.IGNORECASE):
                it = f"CAST({it} AS TIMESTAMP)"
            out.append(it)
        return out

    def render_range(kw: str, args: str) -> str:
        temporal = _temporal_args(args)
        if temporal is not None:
            # DuckDB's temporal range is end-EXCLUSIVE; sequence() is
            # inclusive — drop an element equal to the end bound (covers
            # both step signs). Numeric-only Spark range() can't help.
            if len(temporal) != 3:
                return f"{kw} range({args})"  # loud: shape unsupported
            a, b, s = temporal
            return (
                f"{kw} (SELECT explode(filter(sequence({a}, {b}, {s}), "
                f"__x -> __x != {b})) AS range)"
            )
        # \x00RANGE\x00 shields Spark's native table function from the
        # scalar-range shape rewrite; transpile unshields at the end.
        return f"{kw} (SELECT id AS range FROM \x00RANGE\x00({args}))"

    def render_gs(kw: str, args: str) -> str:
        temporal = _temporal_args(args)
        if temporal is not None:
            # temporal series keep their timestamp element type
            return (
                f"{kw} (SELECT explode(sequence({', '.join(temporal)})) "
                "AS generate_series)"
            )
        # DuckDB generate_series yields BIGINT; Spark sequence() of int
        # literals yields array<int> — widen the ARRAY (explode is a
        # generator, so it can't sit inside a CAST) so dtypes match.
        return (
            f"{kw} (SELECT explode(CAST(sequence({args}) "
            "AS ARRAY<BIGINT>)) AS generate_series)"
        )

    def render_unnest(kw: str, args: str) -> str:
        return f"{kw} (SELECT explode({args}) AS unnest)"

    for name, render in (
        ("range", render_range),
        ("generate_series", render_gs),
        ("unnest", render_unnest),
    ):
        sql = _rewrite_from_table_fn(sql, name, render)
    return sql


def _rewrite_from_table_fn(sql: str, name: str, render) -> str:
    """Replace every ``FROM|JOIN <name>( <balanced args> )`` with
    ``render(keyword, args)`` (args parsed with a balanced scan so nested
    calls like ``range(len(x))`` survive)."""
    pat = re.compile(rf"\b(FROM|JOIN)\s+{name}\s*\(", re.IGNORECASE)
    out, pos = [], 0
    while True:
        m = pat.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        if close_idx == -1:
            out.append(sql[pos:])
            return "".join(out)
        out.append(sql[pos : m.start()])
        out.append(render(m.group(1), sql[open_idx + 1 : close_idx]))
        pos = close_idx + 1


def _rewrite_calls(sql: str, name: str, xform) -> str:
    """Rewrite every call ``name( <balanced args> )`` with
    ``xform(list_of_top_level_args) -> replacement_text`` (return None to
    leave a call unchanged). Word-boundary on the name; literal-protected
    text expected.

    Innermost-first: a call's argument text is rewritten by this same
    pass before ``xform`` sees the call, so a same-named call at any
    nesting depth (``fmod(fmod(7, -2), 3)``, ``'x'::UUID::TEXT``) is
    lowered exactly once. ``xform`` is applied to each call once and its
    replacement is never rescanned — transforms may wrap or re-emit
    their own name (``date_trunc(x)`` → ``CAST(date_trunc(x) AS
    DATE)``) without looping. The scan always resumes past the call's
    closing paren and recurses only into strictly shorter text."""
    pat = re.compile(rf"(?<![\w.]){name}\s*\(", re.IGNORECASE)
    out, pos = [], 0
    while (m := pat.search(sql, pos)) is not None:
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        if close_idx == -1:
            break
        inner = _rewrite_calls(sql[open_idx + 1 : close_idx], name, xform)
        repl = xform([a.strip() for a in _split_top_level(inner)])
        if repl is None:
            repl = f"{sql[m.start() : open_idx + 1]}{inner})"
        out.append(sql[pos : m.start()])
        out.append(repl)
        pos = close_idx + 1
    out.append(sql[pos:])
    return "".join(out)


_TIME_BUCKET_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
}


def rewrite_postfix_factorial(sql: str) -> str:
    """DuckDB's postfix factorial ``5!`` / ``(n+1)!`` → ``factorial(x)``
    (a Spark builtin, BIGINT for 0–20). Runs on literal-protected text;
    ``!=`` and the regex operators (already consumed upstream) are
    excluded. Operands: a number/identifier/placeholder token, or a
    parenthesized expression including a preceding function name."""
    out = sql
    i = len(out) - 1
    while i >= 0:
        if out[i] != "!" or (i + 1 < len(out) and out[i + 1] in "=~"):
            i -= 1
            continue
        j = i - 1
        while j >= 0 and out[j] in " \t\n":
            j -= 1
        if j < 0:
            i -= 1
            continue
        if out[j] == ")":
            depth = 0
            k = j
            while k >= 0:
                if out[k] == ")":
                    depth += 1
                elif out[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            if k < 0:
                i -= 1
                continue
            # absorb a function name directly before the '('
            m = re.search(r"[\w.\x00]+$", out[:k])
            start = m.start() if m else k
        elif re.match(r"[\w.\x00]", out[j]):
            m = re.search(r"[\w.\x00]+$", out[: j + 1])
            start = m.start()
            kw = out[start : j + 1].upper()
            if kw in ("NOT", "AND", "OR", "WHERE", "WHEN", "THEN", "ELSE"):
                i -= 1
                continue
        else:
            i -= 1
            continue
        operand = out[start : j + 1]
        out = out[:start] + f"factorial({operand})" + out[i + 1 :]
        i = start - 1
    return out


def rewrite_multi_unnest(sql: str) -> str:
    """DuckDB zips MULTIPLE select-position ``unnest()`` calls in one
    SELECT list positionally, NULL-padding the shorter lists to the
    longest (probed: ``SELECT unnest([1,2,3]), unnest([10,20])`` →
    ``(1,10),(2,20),(3,NULL)``). Spark allows one generator per SELECT
    and misaligns a second one — rewrite to ONE explode over
    index-built structs in a wrapping subquery. Runs after
    FROM-position unnests are consumed (rewrite_series_table_functions)
    and before the unnest→explode rename.

    Handled shape: plain SELECT scope whose tail is FROM <tables>
    [WHERE …] [ORDER BY …] [LIMIT …]; WHERE stays with the base rows
    (DuckDB unnests after the filter), ORDER/LIMIT move outside the
    wrap. GROUP BY / HAVING / window scopes are left untouched (their
    DuckDB-side interaction with unnest is out of scope)."""
    pat = re.compile(r"\bunnest\s*\(", re.IGNORECASE)

    def scope_unnest_spans(text):
        """Spans of unnest( calls belonging to THIS scope (not inside a
        nested parenthesized SELECT)."""
        spans, i, n = [], 0, len(text)
        while i < n:
            c = text[i]
            if c == "(":
                close = _balanced_span(text, i)
                if close == -1:
                    return spans
                if re.match(r"\(\s*SELECT\b", text[i:], re.IGNORECASE):
                    i = close + 1
                    continue
                i += 1
                continue
            m = pat.match(text, i)
            if m:
                close = _balanced_span(text, m.end() - 1)
                if close == -1:
                    return spans
                spans.append((m.start(), m.end(), close))
                i = close + 1
                continue
            i += 1
        return spans

    for sm in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE):
        start = sm.end()
        # select-list end: first top-level FROM / clause keyword / ';'
        i, depth, list_end, has_from = start, 0, len(sql), False
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    list_end = i
                    break
                depth -= 1
            elif depth == 0:
                m = re.match(
                    r"\b(FROM|WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER"
                    r"|LIMIT|UNION|INTERSECT|EXCEPT)\b",
                    sql[i:],
                    re.IGNORECASE,
                )
                if m and sql[i - 1] in " \t\n)":
                    list_end = i
                    has_from = m.group(1).upper() == "FROM"
                    break
            i += 1
        sel = sql[start:list_end]
        spans = scope_unnest_spans(sel)
        if len(spans) < 2:
            continue
        exprs = [sel[b + 0 : c] for (_, b, c) in spans]
        # replace back-to-front so earlier spans stay valid
        new_sel = sel
        for k in range(len(spans) - 1, -1, -1):
            a, _, c = spans[k]
            new_sel = new_sel[:a] + f"__uz.__c{k}" + new_sel[c + 1 :]
        g = "greatest(" + ", ".join(f"size({e})" for e in exprs) + ")"
        fields = ", ".join(
            f"'__c{k}', try_element_at({e}, __i)"
            for k, e in enumerate(exprs)
        )
        zip_expr = (
            f"explode(slice(transform(sequence(1, greatest(1, {g})), "
            f"__i -> named_struct({fields})), 1, greatest(0, {g}))) AS __uz"
        )
        tail = sql[list_end:]
        if not has_from:
            inner = f"SELECT {zip_expr}"
            wrapped = f"SELECT {new_sel.strip()} FROM ({inner}) __uzt {tail}"
            return rewrite_multi_unnest(sql[: sm.start()] + wrapped)
        # split tail: FROM <tables+where> | <order/limit rest>; bail on
        # GROUP/HAVING/QUALIFY/WINDOW/set-ops (unsupported interaction)
        j, depth2, cut = 0, 0, len(tail)
        bail = False
        while j < len(tail):
            c = tail[j]
            if c == "(":
                depth2 += 1
            elif c == ")":
                if depth2 == 0:
                    cut = j
                    break
                depth2 -= 1
            elif depth2 == 0:
                m = re.match(
                    r"\b(GROUP|HAVING|QUALIFY|WINDOW|UNION|INTERSECT"
                    r"|EXCEPT|ORDER|LIMIT)\b",
                    tail[j:],
                    re.IGNORECASE,
                )
                if m:
                    if m.group(1).upper() in (
                        "GROUP", "HAVING", "QUALIFY", "WINDOW",
                        "UNION", "INTERSECT", "EXCEPT",
                    ):
                        bail = True
                    cut = j
                    break
            j += 1
        if bail:
            continue
        base, rest = tail[:cut], tail[cut:]
        inner = f"SELECT *, {zip_expr} {base.strip()}"
        wrapped = f"SELECT {new_sel.strip()} FROM ({inner}) __uzt {rest}"
        return rewrite_multi_unnest(sql[: sm.start()] + wrapped)
    return sql


def rewrite_unnest_in_expression(sql: str) -> str:
    """A select-position ``unnest(E)`` EMBEDDED in a larger scalar
    expression (``unnest(l) + 10``, ``upper(unnest(l))``): DuckDB maps
    the expression over the unnested elements; Spark's bare rename would
    emit ``explode(E) + 10``, an illegal nested generator (generators
    must be top-level). Rewrite the ITEM to map first, explode last:
    ``explode(transform(E, __un -> <item with unnest(E)→__un>))`` —
    same rows, and the lambda may still reference other columns.
    One unnest per item (multi-unnest zipping was handled upstream by
    rewrite_multi_unnest); an item that IS the bare call keeps the
    plain rename. Probed batch 39: ``SELECT unnest([1,2]) + 10`` →
    ``[11, 12]``."""
    pat = re.compile(r"\bunnest\s*\(", re.IGNORECASE)
    out_sql = []
    pos = 0
    for sm in re.finditer(r"\bSELECT\b", sql, re.IGNORECASE):
        start = sm.end()
        if start < pos:
            continue
        i, depth, list_end = start, 0, len(sql)
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    list_end = i
                    break
                depth -= 1
            elif depth == 0 and re.match(
                r"\b(FROM|WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER"
                r"|LIMIT|UNION|INTERSECT|EXCEPT)\b",
                sql[i:],
                re.IGNORECASE,
            ) and sql[i - 1] in " \t\n)":
                list_end = i
                break
            i += 1
        sel = sql[start:list_end]
        items = _split_top_level(sel)
        changed = False
        new_items = []
        for k, item in enumerate(items):
            # a set quantifier on the first item belongs to the SELECT,
            # not the expression — detach it so `SELECT DISTINCT
            # unnest(l) + 1` doesn't fold DISTINCT into the lambda
            # (ADVICE r9), re-attach outside the rewritten item
            quant = ""
            if k == 0:
                qm = re.match(
                    r"\s*(DISTINCT|ALL)\b", item, re.IGNORECASE
                )
                if qm:
                    quant = item[: qm.end()] + " "
                    item = item[qm.end():]
            am = re.search(
                r'\s+AS\s+("[^"]+"|\x00IDQ\d+\x00|[A-Za-z_]\w*)\s*$', item, re.IGNORECASE
            )
            body = item[: am.start()] if am else item
            alias = item[am.start():] if am else ""
            m = pat.search(body)
            if m is None or re.search(r"\bSELECT\b", body, re.IGNORECASE):
                # no unnest, or a nested subquery owns its own scope
                new_items.append(quant + item)
                continue
            close = _balanced_span(body, m.end() - 1)
            if close == -1 or pat.search(body, close):
                new_items.append(quant + item)  # zero/second unnest: not ours
                continue
            stripped = body.strip()
            if stripped.startswith(body[m.start() : close + 1].strip()) and (
                body[m.start() : close + 1].strip() == stripped
            ):
                new_items.append(quant + item)  # bare call: plain rename path
                continue
            if re.search(r"\bOVER\b", body, re.IGNORECASE):
                new_items.append(quant + item)  # window context: out of scope
                continue
            arr = body[m.end() : close]
            mapped = body[: m.start()] + "__un" + body[close + 1 :]
            new_items.append(
                f"{quant}explode(transform({arr}, __un -> {mapped.strip()}))"
                f"{alias}"
            )
            changed = True
        if changed:
            out_sql.append(sql[pos:start])
            out_sql.append(" " + ", ".join(i.strip() for i in new_items) + " ")
            pos = list_end
    out_sql.append(sql[pos:])
    return "".join(out_sql)


def rewrite_function_shapes(sql: str, stash: list[str] | None = None) -> str:
    """DuckDB functions whose Spark twin takes a different ARG SHAPE
    (a plain rename can't fix them; SURVEY §2B scalar-function rows):

    - ``array_slice/list_slice(l, a, b)`` (1-based inclusive end) →
      ``slice(l, a, (b)-(a)+1)`` (start+length)
    - ``regexp_extract_all(s, re)`` → ``…(s, re, 0)`` (Spark defaults to
      capture group 1; DuckDB to the full match)
    - ``date_diff(part, a, b)`` → ``timestampdiff(PART,
      date_trunc(part, a), date_trunc(part, b))`` (DuckDB counts unit
      boundaries crossed)
    - ``date_add(a, INTERVAL …)`` → ``(a + INTERVAL …)`` (Spark's
      date_add is integer-days only)
    - ``age(a, b)`` → the calendar decomposition (whole months, then
      days borrowed from the earlier operand's month, then time) as a
      day-time interval with 30-day months; ``date_part(p, age(a, b))``
      reads field ``p`` of that decomposition directly
    - ``to_base(n, b)`` → ``conv(n, 10, b)``
    - ``format('{}-{}', …)`` (python-style braces) →
      ``format_string('%s-%s', …)``
    - ``string_agg(x, d ORDER BY k)`` → ``listagg(x, d) WITHIN GROUP
      (ORDER BY k)``; plain ``string_agg`` → ``listagg``; the separator
      defaults to ``','`` (Spark's listagg defaults to ``''``)
    - ``quantile_disc(x, q)`` → ``percentile_disc(q) WITHIN GROUP
      (ORDER BY x)``
    - ``time_bucket(INTERVAL n unit, ts)`` → epoch-floor expression for
      second/minute/hour widths (and 1 day, where the origins align);
      wider buckets differ from DuckDB's 2000-01-01 origin → left
      unrewritten to fail loudly rather than shift silently.

    Each name reaches ``_rewrite_calls`` at one site, whose transform
    dispatches on the argument shape; only the two regexp family
    passes (POSIX classes, flag folding) revisit names. Nested calls of
    one name are lowered innermost-first by ``_rewrite_calls`` itself.
    """
    stash = stash if stash is not None else []

    def slice_x(a):
        if len(a) == 4:
            return slice_step_x(a)
        if len(a) != 3:
            return None
        # DuckDB array_slice also slices STRINGS — literal sources get
        # substring (same 1-based inclusive bounds); columns keep slice
        if re.fullmatch(r"\x00LIT\d+\x00", a[0].strip()):
            return f"substring({a[0]}, {a[1]}, ({a[2]})-({a[1]})+1)"
        return f"slice({a[0]}, {a[1]}, ({a[2]})-({a[1]})+1)"

    # 4-arg stepped form (1-based inclusive, positive literal step):
    # positions a, a+c, … ≤ min(b, len)
    def slice_step_x(a):
        if not (re.fullmatch(r"\d+", a[1]) and re.fullmatch(r"\d+", a[2])
                and re.fullmatch(r"\d+", a[3])):
            return None
        lo, hi, st = int(a[1]), int(a[2]), int(a[3])
        if lo < 1 or st < 1:
            return None
        if hi < lo:
            return "array()"
        l = a[0]
        return (
            f"(CASE WHEN size({l}) >= {lo} THEN "
            f"transform(sequence({lo}, least({hi}, size({l})), {st}), "
            f"__ss -> try_element_at({l}, __ss)) ELSE array() END)"
        )

    for _sl in ("array_slice", "list_slice"):
        sql = _rewrite_calls(sql, _sl, slice_x)
    sql = _rewrite_calls(
        sql,
        "regexp_extract_all",
        lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)" if len(a) == 2 else None,
    )
    # same default-group divergence for the scalar form
    def regexp_extract_x(a):
        if len(a) == 2:
            return f"regexp_extract({a[0]}, {a[1]}, 0)"
        # regexp_extract(s, p, ['name', ...]) → STRUCT of the capture
        # groups, keyed by the given names (DuckDB's named-groups form)
        if len(a) != 3 or not a[2].startswith("array("):
            return None
        ids = re.findall(r"\x00LIT(\d+)\x00", a[2])
        if not ids:
            return None
        fields = []
        for i, lid in enumerate(ids, 1):
            name = _lit_text(stash, lid)
            ph = _stash_add(stash, "'" + name.replace("'", "''") + "'")
            fields.append(f"{ph}, regexp_extract({a[0]}, {a[1]}, {i})")
        return f"named_struct({', '.join(fields)})"

    sql = _rewrite_calls(sql, "regexp_extract", regexp_extract_x)

    # POSIX character classes ([[:alpha:]] …) are RE2-only — translate
    # them inside LITERAL patterns of the regexp functions (Java regex
    # equivalents; the bracket-class context is preserved)
    _POSIX = [
        ("[:alnum:]", "a-zA-Z0-9"), ("[:alpha:]", "a-zA-Z"),
        ("[:digit:]", "0-9"), ("[:upper:]", "A-Z"), ("[:lower:]", "a-z"),
        ("[:space:]", r"\s"), ("[:blank:]", " \\t"),
        ("[:punct:]", r"\p{Punct}"), ("[:xdigit:]", "0-9a-fA-F"),
        ("[:cntrl:]", r"\x00-\x1f"), ("[:word:]", r"\w"),
        ("[:graph:]", r"\x21-\x7e"), ("[:print:]", r"\x20-\x7e"),
    ]

    def posix_fn(name):
        def x(a):
            if len(a) < 2:
                return None
            m = re.fullmatch(r"\x00LIT(\d+)\x00", a[1])
            if m is None:
                return None
            pat = _lit_text(stash, m.group(1))
            if "[:" not in pat:
                return None
            for posix, java in _POSIX:
                pat = pat.replace(posix, java)
            ph = _stash_add(stash, "'" + pat.replace("'", "''") + "'")
            return f"{name}({', '.join([a[0], ph, *a[2:]])})"

        return x

    # regexp_split_to_table: pg-style SRF — one row per split piece.
    # Lower to explode(split(…)) BEFORE the posix pass (the inner split
    # then gets the same POSIX-class pattern translation). Top-level
    # select position only, matching Spark's one-generator rule.
    sql = _rewrite_calls(
        sql,
        "regexp_split_to_table",
        lambda a: (
            f"explode(regexp_split_to_array({a[0]}, {a[1]}))"
            if len(a) == 2
            else None
        ),
    )
    for _fn in (
        "regexp_matches", "regexp_like", "regexp_extract",
        "regexp_extract_all", "regexp_replace", "regexp_split_to_array",
    ):
        sql = _rewrite_calls(sql, _fn, posix_fn(_fn))

    # DuckDB date_diff counts unit BOUNDARIES CROSSED, not complete
    # units: date_diff('month', Jan-31, Feb-01) = 1 (round-7 hunt found
    # the old timestampdiff lowering silently returning 0). Truncate
    # both operands to the unit first — then complete-unit diff equals
    # boundary count. date_sub/datesub keep the plain timestampdiff
    # (their contract IS complete units, probed against DuckDB).
    _DD_UNITS = {
        "year": "YEAR", "years": "YEAR", "y": "YEAR", "yr": "YEAR",
        "quarter": "QUARTER", "quarters": "QUARTER",
        "month": "MONTH", "months": "MONTH", "mon": "MONTH",
        "week": "WEEK", "weeks": "WEEK", "w": "WEEK",
        "day": "DAY", "days": "DAY", "d": "DAY",
        "hour": "HOUR", "hours": "HOUR", "h": "HOUR",
        "minute": "MINUTE", "minutes": "MINUTE", "min": "MINUTE",
        "second": "SECOND", "seconds": "SECOND", "s": "SECOND",
        "millisecond": "MILLISECOND", "milliseconds": "MILLISECOND",
        "ms": "MILLISECOND",
        "microsecond": "MICROSECOND", "microseconds": "MICROSECOND",
        "us": "MICROSECOND",
    }

    def date_diff_x(a):
        if len(a) != 3:
            return None
        part = a[0]
        m = re.fullmatch(r"\x00LIT(\d+)\x00", part)
        if m:
            part = _lit_text(stash, m.group(1))
        part = part.strip().strip(chr(39)).lower()
        unit = _DD_UNITS.get(part)
        if unit is None:
            if part in ("decade", "century", "millennium"):
                per = {"decade": 10, "century": 100, "millennium": 1000}[part]
                return (
                    f"(CAST(floor(year({a[2]}) / {per}) AS BIGINT) - "
                    f"CAST(floor(year({a[1]}) / {per}) AS BIGINT))"
                )
            return None  # unknown part: stay loud
        ph = _stash_add(stash, f"'{unit}'")
        return (
            f"timestampdiff({unit}, date_trunc({ph}, {a[1]}), "
            f"date_trunc({ph}, {a[2]}))"
        )

    sql = _rewrite_calls(sql, "date_diff", date_diff_x)
    sql = _rewrite_calls(  # 3-arg DuckDB alias; Spark's own 2-arg passes
        sql, "datediff", lambda a: date_diff_x(a) if len(a) == 3 else None
    )

    # DuckDB's THREE-arg date_sub(part, a, b) counts COMPLETE units.
    # Spark's timestampdiff is NOT that contract at the month-add clamp
    # boundary (probed: duck date_sub('month', Jan-31, Feb-29) = 1 —
    # Jan-31 + 1 month clamps to Feb-29 — but timestampdiff says 0), so
    # lower it directly: fixed-width units truncate the microsecond
    # difference; month-family takes the year-month boundary diff and
    # corrects by one clamped interval-add comparison. Spark's own
    # 2-arg date_sub(date, days) passes through untouched (len check).
    _DS_MICROS = {
        "microsecond": 1, "microseconds": 1, "us": 1,
        "millisecond": 1000, "milliseconds": 1000, "ms": 1000,
        "second": 10**6, "seconds": 10**6, "s": 10**6,
        "minute": 60 * 10**6, "minutes": 60 * 10**6, "min": 60 * 10**6,
        "hour": 3600 * 10**6, "hours": 3600 * 10**6, "h": 3600 * 10**6,
        "day": 86400 * 10**6, "days": 86400 * 10**6, "d": 86400 * 10**6,
        "week": 7 * 86400 * 10**6, "weeks": 7 * 86400 * 10**6,
        "w": 7 * 86400 * 10**6,
    }
    _DS_MONTHS = {
        "month": 1, "months": 1, "mon": 1,
        "quarter": 3, "quarters": 3,
        "year": 12, "years": 12, "y": 12, "yr": 12,
        "decade": 120, "decades": 120,
        "century": 1200, "centuries": 1200,
        "millennium": 12000, "millennia": 12000,
    }

    def date_sub_x(a):
        if len(a) != 3:
            return None
        part = a[0]
        m = re.fullmatch(r"\x00LIT(\d+)\x00", part)
        if m:
            part = _lit_text(stash, m.group(1))
        part = part.strip().strip(chr(39)).lower()
        lo, hi = a[1], a[2]
        if part in _DS_MICROS:
            w = _DS_MICROS[part]
            return (
                f"((unix_micros(CAST({hi} AS TIMESTAMP)) - "
                f"unix_micros(CAST({lo} AS TIMESTAMP))) DIV {w})"
            )
        if part in _DS_MONTHS:
            k = _DS_MONTHS[part]
            md = (
                f"((year({hi}) * 12 + month({hi})) - "
                f"(year({lo}) * 12 + month({lo})))"
            )
            add = f"({lo} + make_interval(0, {md}, 0, 0, 0, 0, 0))"
            corr = (
                f"(CASE WHEN {md} > 0 AND {add} > {hi} THEN {md} - 1 "
                f"WHEN {md} < 0 AND {add} < {hi} THEN {md} + 1 "
                f"ELSE {md} END)"
            )
            return f"CAST({corr} DIV {k} AS BIGINT)"
        return None  # unknown part: stay loud

    sql = _rewrite_calls(sql, "date_sub", date_sub_x)
    sql = _rewrite_calls(sql, "datesub", date_sub_x)
    # DuckDB's date_add returns TIMESTAMP even for DATE input — mirror
    # with an explicit cast (no-op when the operand is already one)
    sql = _rewrite_calls(
        sql,
        "date_add",
        lambda a: f"(CAST({a[0]} AS TIMESTAMP) + {a[1]})"
        if len(a) == 2 and re.search(r"\bINTERVAL\b", a[1], re.IGNORECASE)
        else None,
    )
    # date_part(part, age(a, b)): DuckDB age() decomposes the difference
    # into years/months/days/time with calendar borrows (probed, round 7):
    # whole months first; a negative day diff borrows day(last_day(LO))
    # days — the EARLIER operand's month length (NOT PostgreSQL's
    # preceding-month rule: age('2024-03-30','2024-01-31') is
    # '1 month 30 days' on DuckDB, 28 days under the PG rule); a negative
    # time-of-day diff borrows one day; a<b negates every field. The
    # composed form is lowered to that arithmetic directly — Spark has no
    # mixed year-month-day interval to extract from. Bare age() gets the
    # same decomposition flattened to a day-time interval under DuckDB's
    # own client convention (30-day months — exactly how its Python
    # driver renders a mixed INTERVAL as a timedelta), below.
    def _age_fields(a_raw, b_raw):
        A = f"CAST({a_raw} AS TIMESTAMP)"
        B = f"CAST({b_raw} AS TIMESTAMP)"
        hi = f"greatest({A}, {B})"
        lo = f"least({A}, {B})"
        sgn = f"(CASE WHEN {A} >= {B} THEN 1 ELSE -1 END)"
        tod_h = f"pmod(unix_micros({hi}), 86400000000)"
        tod_l = f"pmod(unix_micros({lo}), 86400000000)"
        tbor = f"(CASE WHEN {tod_h} < {tod_l} THEN 1 ELSE 0 END)"
        tus = f"({tod_h} - {tod_l} + {tbor} * 86400000000)"
        dayd = f"(day({hi}) - day({lo}) - {tbor})"
        dbor = f"(CASE WHEN {dayd} < 0 THEN 1 ELSE 0 END)"
        days = f"({dayd} + {dbor} * day(last_day({lo})))"
        months = (
            f"((year({hi}) - year({lo})) * 12 + month({hi}) - month({lo})"
            f" - {dbor})"
        )
        return sgn, months, days, tus

    def _age_part_expr(part, a_raw, b_raw):
        sgn, months, days, tus = _age_fields(a_raw, b_raw)
        exprs = {
            "year": f"({months} DIV 12)",
            "years": f"({months} DIV 12)",
            "month": f"pmod({months}, 12)",
            "months": f"pmod({months}, 12)",
            "day": days,
            "days": days,
            "hour": f"({tus} DIV 3600000000)",
            "hours": f"({tus} DIV 3600000000)",
            "minute": f"(({tus} DIV 60000000) % 60)",
            "minutes": f"(({tus} DIV 60000000) % 60)",
            # 'second' is the truncated integer field; ms/us carry the
            # fraction (DuckDB interval-field semantics, probed)
            "second": f"(({tus} DIV 1000000) % 60)",
            "seconds": f"(({tus} DIV 1000000) % 60)",
            "millisecond": f"(pmod({tus}, 60000000) DIV 1000)",
            "milliseconds": f"(pmod({tus}, 60000000) DIV 1000)",
            "microsecond": f"pmod({tus}, 60000000)",
            "microseconds": f"pmod({tus}, 60000000)",
            # epoch: 365.25-day years, 30-day months (probed)
            "epoch": (
                f"(({months} DIV 12) * 31557600.0"
                f" + pmod({months}, 12) * 2592000.0"
                f" + {days} * 86400.0 + {tus} / CAST(1e6 AS DOUBLE))"
            ),
        }
        body = exprs.get(part)
        if body is None:
            return None
        if part == "epoch":
            return f"(CAST({sgn} AS DOUBLE) * {body})"
        return f"(CAST({sgn} * {body} AS BIGINT))"

    def _age_datepart_x(a):
        if len(a) != 2:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[0])
        part = _lit_text(stash, m.group(1)).lower() if m else None
        if part is None:
            return None
        inner = a[1].strip()
        m2 = re.match(r"age\s*\(", inner, re.IGNORECASE)
        if m2 is None:
            return None
        close = _balanced_span(inner, m2.end() - 1)
        if close != len(inner) - 1:
            return None
        args = _split_top_level(inner[m2.end() : close])
        if len(args) != 2:
            return None
        return _age_part_expr(part, args[0].strip(), args[1].strip())

    sql = _rewrite_calls(
        sql,
        "to_base",
        lambda a: f"conv({a[0]}, 10, {a[1]})" if len(a) == 2 else None,
    )

    # --- round-7 hunt batch: breadth fixes probed against DuckDB ---
    # weekday(x): DuckDB weekday == dow (Sunday=0); Spark's own weekday
    # is Monday=0 — rebase. (Runs before rewrite_function_renames, whose
    # isodow lowering EMITS Spark weekday — ordering keeps both right.)
    # pure-arithmetic dow (1970-01-04 was a Sunday) so the later
    # rename pass can't re-rebase the emitted expression
    sql = _rewrite_calls(
        sql,
        "weekday",
        lambda a: f"(pmod(datediff({a[0]}, DATE '1970-01-04'), 7))"
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "editdist3",  # DuckDB alias of levenshtein
        lambda a: f"levenshtein({', '.join(a)})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "isoyear",  # ISO week-numbering year
        lambda a: f"extract(YEAROFWEEK FROM {a[0]})" if len(a) == 1 else None,
    )
    # left/right with NEGATIVE n: all-but-|n|-from-the-other-end
    # (Spark returns ''). Non-negative literal counts stay untouched.
    def _lr(fn):
        # both branches are substring() (probed: substring(s, -(n), n)
        # ≡ right(s, n) for n ≥ 0 including 0 and overshoot)
        def x(a):
            if len(a) != 2 or re.fullmatch(r"\d+", a[1].strip()):
                return None
            if fn == "left":
                pos = f"substring({a[0]}, 1, {a[1]})"
                neg = f"substring({a[0]}, 1, greatest(length({a[0]}) + ({a[1]}), 0))"
            else:
                pos = f"substring({a[0]}, -({a[1]}), {a[1]})"
                neg = f"substring({a[0]}, (-({a[1]})) + 1)"
            return (
                f"(CASE WHEN ({a[1]}) >= 0 THEN {pos} "
                f"ELSE {neg} END)"
            )
        return x

    sql = _rewrite_calls(sql, "left", _lr("left"))
    sql = _rewrite_calls(sql, "right", _lr("right"))
    # fdiv = floor division, fmod = FLOORED modulo, both DOUBLE (probed:
    # fdiv(-7,2) = -4.0, fmod(-7,2) = 1.0 — not C fmod)
    sql = _rewrite_calls(
        sql,
        "fdiv",
        lambda a: f"CAST(floor(({a[0]}) / ({a[1]})) AS DOUBLE)"
        if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql,
        "fmod",
        lambda a: (
            f"CAST(({a[0]}) - floor(({a[0]}) / ({a[1]})) * ({a[1]}) "
            f"AS DOUBLE)"
        )
        if len(a) == 2 else None,
    )
    # julian day number: days since -4713-11-24 = unix days + 2440588.
    # The division folds to DECIMAL in Spark (DuckDB returns DOUBLE) —
    # cast the whole expression so the result TYPE matches too.
    sql = _rewrite_calls(
        sql,
        "julian",
        lambda a: (
            f"CAST(unix_micros(CAST({a[0]} AS TIMESTAMP)) / 86400000000.0 "
            f"+ 2440588.0 AS DOUBLE)"
        )
        if len(a) == 1 else None,
    )
    # list/array_prepend(elem, list): Spark's array_prepend takes
    # (list, elem) — emit array_insert instead so the two rules can't
    # re-swap each other's output
    for _pre in ("list_prepend", "array_prepend"):
        sql = _rewrite_calls(
            sql,
            _pre,
            lambda a: f"array_insert({a[1]}, 1, {a[0]})"
            if len(a) == 2 else None,
        )

    def _nn(l):  # non-null elements
        return f"filter({l}, __hv -> __hv IS NOT NULL)"

    # list_product: DOUBLE, NULL elements skipped, all-null/empty -> NULL
    sql = _rewrite_calls(
        sql,
        "list_product",
        lambda a: (
            f"(CASE WHEN size({_nn(a[0])}) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE aggregate({_nn(a[0])}, CAST(1 AS DOUBLE), "
            f"(__s, __hv) -> __s * __hv) END)"
        )
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "list_bool_and",
        lambda a: (
            f"(CASE WHEN size({_nn(a[0])}) = 0 THEN CAST(NULL AS BOOLEAN) "
            f"ELSE forall({_nn(a[0])}, __hv -> __hv) END)"
        )
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "list_bool_or",
        lambda a: (
            f"(CASE WHEN size({_nn(a[0])}) = 0 THEN CAST(NULL AS BOOLEAN) "
            f"ELSE exists({_nn(a[0])}, __hv -> __hv) END)"
        )
        if len(a) == 1 else None,
    )

    def list_resize_x(a):
        if len(a) not in (2, 3):
            return None
        l, n = a[0], a[1]
        # rename-proof spellings only (get/flatten): later passes rewrite
        # concat -> concat_ws and element_at -> the 1-based duck shim,
        # which would mangle this generated Spark code
        fill = a[2] if len(a) == 3 else (
            f"nullif(get({l}, 0), get({l}, 0))"
        )
        return (
            f"(CASE WHEN ({n}) <= size({l}) THEN slice({l}, 1, {n}) "
            f"ELSE flatten(array({l}, array_repeat({fill}, "
            f"({n}) - size({l})))) END)"
        )

    sql = _rewrite_calls(sql, "list_resize", list_resize_x)

    # datepart(['year','month'], x) -> STRUCT of the named parts
    _DP_SIMPLE = {
        "year": "year", "month": "month", "day": "day", "hour": "hour",
        "minute": "minute", "second": "second", "quarter": "quarter",
        "week": "weekofyear", "dayofyear": "dayofyear",
    }

    def datepart_list_x(a):
        if len(a) != 2 or not a[0].strip().lower().startswith("array("):
            return None
        inner = a[0].strip()[6:-1]
        parts = []
        for item in _split_top_level(inner):
            m = re.fullmatch(r"\x00LIT(\d+)\x00", item.strip())
            if m is None:
                return None
            parts.append(_lit_text(stash, m.group(1)).lower())
        if not all(pt in _DP_SIMPLE for pt in parts):
            return None  # exotic part in list form: stay loud
        fields = ", ".join(
            f"{_stash_add(stash, repr(pt))}, "
            f"CAST({_DP_SIMPLE[pt]}({a[1]}) AS BIGINT)"
            for pt in parts
        )
        return f"named_struct({fields})"

    # --- round-7 hunt batch 12 ---
    # string predicates: DuckDB spellings -> Spark's
    sql = _rewrite_calls(
        sql, "ends_with",
        lambda a: f"endswith({', '.join(a)})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "suffix",
        lambda a: f"endswith({', '.join(a)})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "prefix",
        lambda a: f"startswith({', '.join(a)})" if len(a) == 2 else None,
    )
    # LIKE-with-escape function forms -> operator LIKE … ESCAPE …
    # (batch 35: the like()/ilike() 3-arg function spellings do not
    # parse on Spark 4 — the escape char is grammar, not an argument).
    # Pattern/escape stay as bare literal placeholders so the later
    # rewrite_like_escape pass resolves them (ILIKE-ESCAPE lowering,
    # lexer-safe escape char substitution).
    for _fname, _op in (
        ("like_escape", "LIKE"),
        ("ilike_escape", "ILIKE"),
        ("not_like_escape", "NOT LIKE"),
        ("not_ilike_escape", "NOT ILIKE"),
    ):
        sql = _rewrite_calls(
            sql,
            _fname,
            # LHS left bare: rewrite_like_escape's operand regex must
            # see placeholder/identifier directly before the operator
            lambda a, _o=_op: (
                f"({a[0]} {_o} {a[1]} ESCAPE {a[2]})"
                if len(a) == 3
                else None
            ),
        )
    # Kahan-compensated float aggs (wave 46): Spark has no compensated
    # variant, but accumulating in DECIMAL(38,10) is exact for inputs
    # whose true scale fits 10 decimal digits (prices, measurements) —
    # which is when DuckDB's fsum visibly diverges from a plain double
    # sum. Bound: |sum| < 10^28 (Spark returns NULL on overflow with
    # ANSI off — loud-ish, not silently wrong); inputs with >10
    # fractional digits of information fall back to being rounded per
    # addend, still within one ulp of the Kahan result in practice.
    def _kahan_x(agg):
        def x(a):
            if len(a) != 1:
                return None
            arg = a[0]
            dm = re.match(r"\s*DISTINCT\s+(.*)$", arg, re.IGNORECASE | re.DOTALL)
            q, arg = ("DISTINCT ", dm.group(1)) if dm else ("", arg)
            return (
                f"CAST({agg}({q}CAST({arg} AS DECIMAL(38,10))) AS DOUBLE)"
            )
        return x

    for _kfn in ("sumkahan", "fsum", "kahan_sum"):
        sql = _rewrite_calls(sql, _kfn, _kahan_x("sum"))
    sql = _rewrite_calls(sql, "favg", _kahan_x("avg"))
    # sem(x): standard error of the mean — DuckDB computes it from the
    # POPULATION stddev (probed wave 46: sem([1,2,4]) = 0.720082 =
    # stddev_pop/sqrt(3), not stddev_samp/sqrt(3) = 0.881917)
    sql = _rewrite_calls(
        sql, "sem",
        lambda a: f"(stddev_pop({a[0]}) / sqrt(count({a[0]})))"
        if len(a) == 1 else None,
    )
    # RE2 QuoteMeta: escape regex metacharacters only. The 'g' flag
    # matters: this emission still flows through the DuckDB
    # first-match-only regexp_replace shim, which strips the flag and
    # leaves the (all-match) Spark call.
    sql = _rewrite_calls(
        sql, "regexp_escape",
        lambda a: (
            "regexp_replace(" + a[0] + ", "
            + _stash_add(stash, r"'([.+*?()|\[\]{}^$\\])'") + ", "
            + _stash_add(stash, r"'\\\1'") + ", "
            + _stash_add(stash, "'g'") + ")"
        )
        if len(a) == 1 else None,
    )
    # chr beyond latin-1: build the UTF-8 byte sequence arithmetically
    # (Spark's chr truncates to one byte -> mojibake for chr(955))
    def chr_x(a):
        if len(a) != 1:
            return None
        x = f"({a[0]})"
        b = (
            f"(CASE WHEN {x} < 128 THEN {x} "
            f"WHEN {x} < 2048 THEN (192 + {x} DIV 64) * 256 "
            f"+ 128 + {x} % 64 "
            f"WHEN {x} < 65536 THEN (224 + {x} DIV 4096) * 65536 "
            f"+ (128 + ({x} DIV 64) % 64) * 256 + 128 + {x} % 64 "
            f"ELSE (240 + {x} DIV 262144) * 16777216 "
            f"+ (128 + ({x} DIV 4096) % 64) * 65536 "
            f"+ (128 + ({x} DIV 64) % 64) * 256 + 128 + {x} % 64 END)"
        )
        hexs = f"conv({b}, 10, 16)"
        ph = _stash_add(stash, "'0'")
        utf = _stash_add(stash, "'UTF-8'")
        return (
            f"decode(unhex(lpad({hexs}, length({hexs}) "
            f"+ length({hexs}) % 2, {ph})), {utf})"
        )

    sql = _rewrite_calls(sql, "chr", chr_x)

    # path parsing (forward-slash form)
    def _pp_components(p):
        sep = _stash_add(stash, "'/'")
        lead = _stash_add(stash, "'/%'")
        root = _stash_add(stash, "'/'")
        return (
            f"flatten(array(slice(array({root}), 1, "
            f"CASE WHEN {p} LIKE {lead} THEN 1 ELSE 0 END), "
            f"filter(split({p}, {sep}), __pp -> __pp != '')))"
        )

    sql = _rewrite_calls(
        sql, "parse_path",
        lambda a: _pp_components(a[0]) if len(a) == 1 else None,
    )

    def parse_dirname_x(a):
        if len(a) != 1:
            return None
        pp = _pp_components(a[0])
        empty = _stash_add(stash, "''")
        return (
            f"(CASE WHEN size({pp}) < 2 THEN {empty} "
            f"ELSE get({pp}, 0) END)"
        )

    sql = _rewrite_calls(sql, "parse_dirname", parse_dirname_x)

    def parse_filename_x(a):
        if len(a) not in (1, 2):
            return None
        sep = _stash_add(stash, "'/'")
        f = f"substring_index({a[0]}, {sep}, -1)"
        if len(a) == 2:
            trim = a[1].strip().lower()
            m = re.fullmatch(r"\x00LIT(\d+)\x00", trim)
            if m:
                trim = _lit_text(stash, m.group(1)).lower()
            if trim in ("true", "1"):
                pat = _stash_add(stash, r"'\.[^.]*$'")
                empty = _stash_add(stash, "''")
                return f"regexp_replace({f}, {pat}, {empty})"
            if trim not in ("false", "0"):
                return None  # separator variants: stay loud
        return f"({f})"

    sql = _rewrite_calls(sql, "parse_filename", parse_filename_x)

    def histogram_x(a):
        # DuckDB histogram(e): MAP(value → count), keys sorted, NULLs
        # ignored. One collect_list per group feeds both the distinct
        # key list and the per-key counts; O(distinct·n) per group — the
        # visualizer-summary shape this function exists for, not a
        # 100 TB group-by (that's a plain groupBy().count()).
        if len(a) != 1:
            return None  # binned 2-arg form: loud
        e = a[0]
        return (
            f"map_from_entries(transform("
            f"array_sort(array_distinct(collect_list({e}))), "
            f"v -> struct(v, size(filter(collect_list({e}), y -> y = v)))))"
        )

    sql = _rewrite_calls(sql, "histogram", histogram_x)

    def format_bytes_x(a):
        # DuckDB format_bytes(n): binary units, ONE decimal TRUNCATED
        # toward zero (1048575 → '1023.9 KiB'), '<1024 → 'N bytes',
        # largest unit PiB (int64 max = 8191.9 PiB). PURE INTEGER
        # arithmetic — a double intermediate rounds int64-max up to
        # '8192.0 PiB'. Verified live.
        if len(a) != 1:
            return None
        e = a[0]
        av = f"abs(CAST({e} AS BIGINT))"
        branches = []
        for k, unit in enumerate(["KiB", "MiB", "GiB", "TiB", "PiB"], 1):
            u = 1024 ** k
            rendered = (
                f"concat(CASE WHEN ({e}) < 0 THEN '-' ELSE '' END, "
                f"CAST({av} DIV {u}L AS STRING), '.', "
                f"CAST(({av} % {u}L) * 10 DIV {u}L AS STRING), ' {unit}')"
            )
            if k < 5:
                branches.append(
                    f"WHEN {av} < {1024 ** (k + 1)}L THEN {rendered}"
                )
            else:
                branches.append(f"ELSE {rendered}")
        return (
            f"(CASE WHEN {av} < 1024L "
            f"THEN concat(CAST({e} AS BIGINT), ' bytes') "
            + " ".join(branches)
            + " END)"
        )

    sql = _rewrite_calls(sql, "format_bytes", format_bytes_x)
    sql = _rewrite_calls(sql, "formatReadableSize", format_bytes_x)

    def format_x(a):
        if not a:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[0])
        if m is None:
            return None
        fmt = _lit_text(stash, m.group(1))

        conv_for_arg: dict[int, str] = {}
        auto = [0]  # next auto-numbered brace's 0-based arg index

        def brace(g: re.Match) -> str:
            if g.group(1):
                idx = int(g.group(1))
                pos = f"{idx + 1}$"
            else:
                idx = auto[0]
                auto[0] += 1
                pos = ""
            spec = g.group(2)
            if not spec:
                return f"%{pos}s"
            sm = re.fullmatch(
                r"([<>]?)(,?)(\d*)(?:\.(\d+))?([dfs]?)", spec
            )
            if sm is None:
                return g.group(0)  # unsupported spec: leave, abort below
            align, comma, width, prec, conv = sm.groups()
            if align and not width:
                return g.group(0)  # align without width: meaningless
            if not conv:
                if align:
                    conv = "s"  # '{:>5}' / '{:<5}' — explicit alignment
                elif comma:
                    conv = "d"  # '{:,}' — DuckDB's integer thousands form
                else:
                    return g.group(0)
            if comma and conv != "d":
                return g.group(0)  # DuckDB rejects ',' for floats: loud
            if align == "<":
                width = "-" + width  # Java left-justify flag
            conv_for_arg[idx] = conv
            return (
                "%" + pos + (comma or "") + (width or "")
                + (f".{prec}" if prec else "") + conv
            )

        fmt = re.sub(r"\{(\d*)(?::([^{}]*))?\}", brace, fmt)
        if "{" in fmt:
            return None  # an untranslatable placeholder: fail loudly
        ph = _stash_add(stash, "'" + fmt.replace("'", "''") + "'")
        # Java's %f/%d reject DECIMAL/INT arguments Spark types literals
        # as — cast each arg to what its conversion expects
        vals = []
        for i, arg in enumerate(a[1:]):
            conv = conv_for_arg.get(i)
            if conv == "f":
                vals.append(f"CAST({arg} AS DOUBLE)")
            elif conv == "d":
                vals.append(f"CAST({arg} AS BIGINT)")
            else:
                vals.append(arg)
        return f"format_string({ph}, {', '.join(vals)})" if vals else f"format_string({ph})"

    sql = _rewrite_calls(sql, "format", format_x)

    def string_agg_x(a):
        if not a:
            return None
        # a multi-key in-call ORDER BY splits on the arg commas
        # (``string_agg(s, ',' ORDER BY p, x)`` — batch 39): rejoin and
        # re-split around the first top-level ORDER BY.
        joined = ", ".join(a)
        m = next(
            (
                cand
                for cand in re.finditer(
                    r"\bORDER\s+BY\b", joined, re.IGNORECASE
                )
                if _depth_at(joined, cand.start()) == 0
            ),
            None,
        )
        if m:
            order = joined[m.end():].strip()
            head = [
                x.strip()
                for x in _split_top_level(joined[: m.start()])
                if x.strip()
            ]
            if len(head) == 1:
                head.append(_stash_add(stash, "','"))
            return (
                f"listagg({', '.join(head)}) "
                f"WITHIN GROUP (ORDER BY {order})"
            )
        if len(a) == 1:
            # DuckDB's default separator is ',' — Spark listagg's is ''
            a = a + [_stash_add(stash, "','")]
        return f"listagg({', '.join(a)})"

    sql = _rewrite_calls(sql, "string_agg", string_agg_x)
    sql = _rewrite_calls(sql, "group_concat", string_agg_x)  # alias
    sql = _rewrite_calls(sql, "listagg", string_agg_x)  # alias (batch 27)
    # --- round-9 hunt batch 41 ---
    # function-call spellings of the arithmetic operators; divide() is
    # DuckDB's // (trunc toward zero on integers, plain division when a
    # FLOAT literal is present — same contract as the // lowering)
    def _divide_x(a):
        if len(a) != 2:
            return None
        if re.fullmatch(r"-?\d+\.\d+", a[0].strip()) or re.fullmatch(
            r"-?\d+\.\d+", a[1].strip()
        ):
            return f"CAST(({a[0]}) / ({a[1]}) AS DOUBLE)"
        return f"(({a[0]}) div ({a[1]}))"

    sql = _rewrite_calls(sql, "divide", _divide_x)
    for _op_fn, _op in (("add", "+"), ("subtract", "-"), ("multiply", "*")):
        sql = _rewrite_calls(
            sql,
            _op_fn,
            lambda a, _o=_op: (
                f"(({a[0]}) {_o} ({a[1]}))" if len(a) == 2 else None
            ),
        )
    # constant_or_null(v, c1[, c2…]): NULL if ANY condition arg is NULL
    sql = _rewrite_calls(
        sql,
        "constant_or_null",
        lambda a: (
            f"(CASE WHEN "
            + " OR ".join(f"({c}) IS NULL" for c in a[1:])
            + f" THEN NULL ELSE ({a[0]}) END)"
        )
        if len(a) >= 2
        else None,
    )
    # alias(col): the column's unqualified NAME as a string — bare
    # identifiers only (DuckDB returns the expression repr otherwise;
    # not reproducible here, stays loud)
    def _alias_x(a):
        if len(a) != 1:
            return None
        m = re.fullmatch(r"[A-Za-z_][\w.]*", a[0].strip())
        if m is None:
            return None
        name = a[0].strip().rsplit(".", 1)[-1]
        if stash is None:
            return f"'{name}'"
        return _stash_add(stash, f"'{name}'")

    sql = _rewrite_calls(sql, "alias", _alias_x)
    # session-identity introspection: pinned to DuckDB's in-memory
    # defaults (this engine has no catalog hierarchy to report)
    sql = _rewrite_calls(
        sql,
        "current_schema",
        lambda a: (_stash_add(stash, "'main'") if stash else "'main'")
        if not a or a == [""]
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "current_database",
        lambda a: (_stash_add(stash, "'memory'") if stash else "'memory'")
        if not a or a == [""]
        else None,
    )
    # setseed(x): no session RNG to seed (Spark's rand takes a per-call
    # seed); DuckDB returns NULL — match the shape, document the no-op
    sql = _rewrite_calls(
        sql,
        "setseed",
        lambda a: "CAST(NULL AS DOUBLE)" if len(a) == 1 else None,
    )

    # In-call ORDER BY on the quantile family is a no-op (the statistic
    # is over the value multiset; probed batch 40: quantile_cont(x, 0.5
    # ORDER BY x) ≡ quantile_cont(x, 0.5)) — strip it so the shape
    # rewrites (``then``, and the quantile_cont→percentile rename) see
    # the plain form instead of failing to parse.
    def _strip_agg_order(fn_name, then=lambda a: None):
        def x(a):
            joined = ", ".join(a)
            m = next(
                (
                    c
                    for c in re.finditer(
                        r"\bORDER\s+BY\b", joined, re.IGNORECASE
                    )
                    if _depth_at(joined, c.start()) == 0
                ),
                None,
            )
            if m is None:
                return then(a)
            plain = joined[: m.start()].strip().rstrip(",")
            out = then([p.strip() for p in _split_top_level(plain)])
            return f"{fn_name}({plain})" if out is None else out

        return x

    for _qfn in ("quantile_cont", "median", "mode"):
        sql = _rewrite_calls(sql, _qfn, _strip_agg_order(_qfn))

    def quantile_disc_x(a):
        if len(a) != 2:
            return None
        q = a[1].strip()
        m = re.fullmatch(r"array\s*\((.*)\)", q, re.IGNORECASE | re.DOTALL)
        if m is not None:  # list of fractions → array of per-q aggs
            parts = [
                f"percentile_disc({f.strip()}) WITHIN GROUP (ORDER BY {a[0]})"
                for f in _split_top_level(m.group(1))
                if f.strip()
            ]
            return f"array({', '.join(parts)})" if parts else None
        return f"percentile_disc({q}) WITHIN GROUP (ORDER BY {a[0]})"

    for _qd in ("quantile_disc", "quantile"):  # quantile = disc alias
        sql = _rewrite_calls(sql, _qd, _strip_agg_order(_qd, quantile_disc_x))

    def time_bucket_x(a):
        if len(a) not in (2, 3):
            return None
        width = a[0]
        m = re.fullmatch(
            r"INTERVAL\s+(?:(\d+)|\x00LIT(\d+)\x00)\s*([A-Za-z]*)",
            width.strip(),
            re.IGNORECASE,
        )
        if m is None:
            return None
        if m.group(2) is not None:
            text = _lit_text(stash, m.group(2)).strip()
            m2 = re.fullmatch(r"(\d+)\s+([A-Za-z]+)", text)
            if m2 is None:
                return None
            n, unit = int(m2.group(1)), m2.group(2).lower()
        else:
            n, unit = int(m.group(1)), m.group(3).lower()
        ts = a[1]
        # optional 3rd arg: INTERVAL offset — bucket(ts - off) + off —
        # or a DATE/TIMESTAMP origin (wave 47) replacing the default
        # 2000-01-03 anchor for day/week and sub-day widths
        # (month-width origins stay loud: the origin's day-of-month
        # shifts month boundaries in ways a month counter can't express)
        off = None
        origin = None
        if len(a) == 3:
            if re.match(r"INTERVAL\b", a[2].strip(), re.IGNORECASE):
                off = a[2].strip()
                ts = f"(CAST({ts} AS TIMESTAMP) - {off})"
            else:
                origin = a[2].strip()

        def _finish(expr):
            return f"({expr} + {off})" if off else expr

        # month-granularity widths: whole months since 2000-01 floored
        # to a multiple of n (DuckDB origin 2000-01-01; probed). DATE in
        # → DATE out; TIMESTAMP in → TIMESTAMP out (midnight).
        _MONTH_UNITS = {
            "month": 1, "months": 1, "mon": 1,
            "quarter": 3, "quarters": 3,
            "year": 12, "years": 12, "y": 12,
            "decade": 120, "decades": 120,
            "century": 1200, "centuries": 1200,
        }
        if unit in _MONTH_UNITS:
            if origin is not None:
                return None  # loud: see docstring note above
            nm = n * _MONTH_UNITS[unit]
            months = f"((year({ts}) - 2000) * 12 + month({ts}) - 1)"
            floored = (
                f"(CAST(floor({months} / {nm}.0) AS BIGINT) * {nm})"
            )
            out = (
                f"make_date(2000 + CAST(floor({floored} / 12.0) AS INT), "
                f"CAST(pmod({floored}, 12) AS INT) + 1, 1)"
            )
            # result is a DATE; DuckDB returns the INPUT's type (midnight
            # TIMESTAMP for timestamp inputs) — statically unknowable
            # here, so timestamp callers CAST (documented divergence)
            return _finish(out)

        # day/week widths anchor at 2000-01-03 (epoch day 10959 — DuckDB
        # aligns week buckets on Mondays and day buckets with them;
        # probed: 10-day buckets of 2000-01-01 start 1999-12-24)
        _DAY_UNITS = {"day": 1, "days": 1, "d": 1, "week": 7, "weeks": 7, "w": 7}
        if unit in _DAY_UNITS:
            nd = n * _DAY_UNITS[unit]
            d = f"CAST({ts} AS DATE)"
            if origin is not None:
                o = f"CAST({origin} AS DATE)"
                out = (
                    f"date_add({o}, "
                    f"CAST(floor(datediff({d}, {o}) / {nd}.0) AS INT)"
                    f" * {nd})"
                )
                return _finish(out)
            out = (
                f"date_add(DATE '2000-01-03', "
                f"CAST(floor((unix_date({d}) - 10959) / {nd}.0) AS INT)"
                f" * {nd})"
            )
            return _finish(out)

        if unit not in _TIME_BUCKET_UNITS:
            return None
        secs = n * _TIME_BUCKET_UNITS[unit]
        # sub-day widths anchor at the same 2000-01-03 00:00:00 origin
        # (946857600 s): identical to a plain epoch floor for widths
        # dividing 86400, and DuckDB-exact for the odd ones (7 min, 90 s)
        anchor = (
            f"unix_seconds(CAST({origin} AS TIMESTAMP))"
            if origin is not None else "946857600"
        )
        return _finish(
            f"timestamp_seconds(CAST(floor((unix_seconds(CAST({ts} AS "
            f"TIMESTAMP)) - {anchor}) / {secs}.0) AS BIGINT) * {secs} "
            f"+ {anchor})"
        )

    sql = _rewrite_calls(sql, "time_bucket", time_bucket_x)

    def struct_pack_x(a):
        pairs = []
        for item in a:
            k, sep, v = item.partition(":=")
            if not sep:
                return None
            pairs.append(f"'{k.strip()}', {v.strip()}")
        return f"named_struct({', '.join(pairs)})" if pairs else None

    sql = _rewrite_calls(sql, "struct_pack", struct_pack_x)

    # DuckDB trim(string, chars) — Spark's two-arg form is
    # trim(trimChars, string): swap
    for fn in ("trim", "ltrim", "rtrim"):
        sql = _rewrite_calls(
            sql,
            fn,
            lambda a, _f=fn: f"{_f}({a[1]}, {a[0]})" if len(a) == 2 else None,
        )

    # day-of-week bases differ: DuckDB dow Sunday=0, isodow Monday=1;
    # Spark dayofweek Sunday=1, weekday Monday=0
    sql = _rewrite_calls(
        sql,
        "dayofweek",
        lambda a: f"(dayofweek({a[0]}) - 1)" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "isodow",
        lambda a: f"(weekday({a[0]}) + 1)" if len(a) == 1 else None,
    )

    # parts Spark lacks or bases differently; shared by date_part() and
    # extract(): dow/isodow bases, DuckDB's combined seconds+fraction
    # millisecond/microsecond fields, century (ceil), decade (floor)
    def _part_expr(part, x):
        if part == "dow":
            return f"(dayofweek({x}) - 1)"
        if part == "isodow":
            return f"(weekday({x}) + 1)"
        if part in ("dayofyear", "doy"):
            # Spark's extract() rejects the dayofyear spelling (batch
            # 39); its dayofyear() function matches DuckDB exactly
            return f"dayofyear({x})"
        if part in ("millisecond", "milliseconds"):
            return (
                f"CAST(pmod(unix_micros(CAST({x} AS TIMESTAMP)), 60000000)"
                f" / 1000 AS BIGINT)"
            )
        if part in ("microsecond", "microseconds"):
            return f"pmod(unix_micros(CAST({x} AS TIMESTAMP)), 60000000)"
        if part == "century":
            return f"CAST(ceil(year({x}) / 100.0) AS BIGINT)"
        if part == "decade":
            return f"CAST(floor(year({x}) / 10.0) AS BIGINT)"
        if part == "millennium":
            return f"CAST(ceil(year({x}) / 1000.0) AS BIGINT)"
        if part == "era":
            return f"(CASE WHEN year({x}) > 0 THEN 1 ELSE 0 END)"
        if part == "isoyear":
            return f"extract(YEAROFWEEK FROM {x})"
        if part == "yearweek":
            return (
                f"CAST(extract(YEAROFWEEK FROM {x}) * 100 "
                f"+ weekofyear({x}) AS BIGINT)"
            )
        if part in (
            "hour", "hours", "minute", "minutes", "second", "seconds",
            "day", "days", "month", "months", "year", "years",
        ) and re.match(r"INTERVAL\b", x.strip(), re.IGNORECASE):
            # date_part on an INTERVAL (batch 31, probed): fields come
            # from the interval's own (months, days, micros) storage —
            # hour is total-hours of the time part (50 for INTERVAL 50
            # HOUR, no day rollup), minute/second roll within their
            # parent, day/month/year read their own field (day of 50
            # HOUR is 0). Spark's extract demands the field exist in
            # the literal's type — lower through total-seconds casts.
            probe = x
            if stash is not None:
                probe = re.sub(
                    r"\x00LIT(\d+)\x00",
                    lambda lm: _lit_text(stash, lm.group(1)),
                    probe,
                )
            base = part.rstrip("s") if part != "s" else part
            ym = re.search(
                r"\b(YEARS?|MONTHS?)\b", probe, re.IGNORECASE
            ) and not re.search(
                r"\b(DAYS?|HOURS?|MINUTES?|SECONDS?|WEEKS?)\b",
                probe,
                re.IGNORECASE,
            )
            if base in ("year", "month"):
                if not ym:
                    return "0L"
                months = f"CAST(CAST(({x}) AS INTERVAL MONTH) AS BIGINT)"
                return (
                    f"({months} DIV 12)"
                    if base == "year"
                    else f"pmod({months}, 12)"
                )
            if ym:
                return "0L"
            secs = f"CAST(CAST(({x}) AS INTERVAL SECOND) AS BIGINT)"
            if base == "day":
                # the days FIELD only — present iff the literal has a
                # DAY unit; hours never roll up
                if re.search(r"\bDAYS?\b", probe, re.IGNORECASE):
                    return f"extract(DAY FROM ({x}))"
                return "0L"
            if base == "hour":
                return f"({secs} DIV 3600)"
            if base == "minute":
                return f"pmod({secs} DIV 60, 60)"
            return f"pmod({secs}, 60)"
        if part == "epoch":
            if re.match(r"INTERVAL\b", x.strip(), re.IGNORECASE):
                # epoch of an INTERVAL (batch 27, probed): DOUBLE total
                # seconds; 365.25-day years / 30-day months (the age()
                # convention). Literal units pick the path — Spark's
                # year-month and day-time intervals are distinct types.
                # Units may hide inside a protected string literal
                # (INTERVAL '1.5 seconds') — expand the stash to probe.
                probe = x
                if stash is not None:
                    probe = re.sub(
                        r"\x00LIT(\d+)\x00",
                        lambda lm: _lit_text(stash, lm.group(1)),
                        probe,
                    )
                if re.search(
                    r"\b(YEARS?|MONTHS?)\b", probe, re.IGNORECASE
                ) and not re.search(
                    r"\b(DAYS?|HOURS?|MINUTES?|SECONDS?|WEEKS?)\b",
                    probe,
                    re.IGNORECASE,
                ):
                    months = f"CAST(CAST(({x}) AS INTERVAL MONTH) AS BIGINT)"
                    return (
                        f"(({months} DIV 12) * 31557600.0"
                        f" + pmod({months}, 12) * 2592000.0)"
                    )
                secs = f"CAST(CAST(({x}) AS INTERVAL SECOND) AS BIGINT)"
                if not re.search(r"\bSECONDS?\b", probe, re.IGNORECASE):
                    # no SECOND field in the literal: extract(SECOND)
                    # would be an INVALID_EXTRACT_FIELD — whole seconds
                    return f"CAST({secs} AS DOUBLE)"
                frac = f"CAST(extract(SECOND FROM ({x})) AS DOUBLE)"
                return f"({secs} + ({frac} - floor({frac})))"
            # DuckDB epoch() is a fractional DOUBLE (probed: 1.5-second
            # timestamps return ....5) — unix_seconds would truncate
            return f"(unix_micros(CAST({x} AS TIMESTAMP)) / CAST(1e6 AS DOUBLE))"
        return None

    # date_part(part, x) by argument shape: a part LIST, a part of
    # age(…), or a single part Spark lacks or bases differently. After
    # the weekday/dayofweek/isodow passes, whose DuckDB bases must not
    # re-apply to the Spark spellings _part_expr emits; before the age
    # pass, whose lowering would hide the age(…) shape.
    def datepart_x(a):
        if len(a) != 2:
            return None
        out = datepart_list_x(a) or _age_datepart_x(a)
        if out is not None:
            return out
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[0])
        part = _lit_text(stash, m.group(1)).lower() if m else None
        if part is None:
            return None
        return _part_expr(part, a[1])  # None: parts agree, leave native

    for _dp in ("datepart", "date_part"):
        sql = _rewrite_calls(sql, _dp, datepart_x)

    # bare age(a, b) (wave 46 — was the plain (a - b) timestamp diff,
    # a silently different value whenever the span crosses uneven month
    # lengths): the same calendar decomposition as date_part(age(…)),
    # flattened to a day-time interval with 30-day months — the exact
    # convention DuckDB's Python client uses to render its mixed
    # INTERVAL as a timedelta, so client-observed values agree. The
    # remaining divergence is rendering-side only (DuckDB SQL text says
    # '1 year 1 month 17 days'; Spark has no mixed-unit interval type).
    def _age_x(a):
        if len(a) != 2:
            return None
        sgn, months, days, tus = _age_fields(a[0], a[1])
        return (
            f"(make_dt_interval({months} * 30 + {days}, 0, 0, "
            f"{tus} / CAST(1e6 AS DOUBLE)) * {sgn})"
        )

    sql = _rewrite_calls(sql, "age", _age_x)

    # xor()/to_hex are operator/name maps
    sql = _rewrite_calls(
        sql,
        "xor",
        lambda a: f"({a[0]} ^ {a[1]})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "to_hex", lambda a: f"hex({a[0]})" if len(a) == 1 else None
    )

    # extract(part FROM x) for the parts Spark lacks or bases differently
    def extract_x(a):
        if len(a) != 1:
            return None
        m = re.match(
            r"^\s*(dow|isodow|epoch|milliseconds?|microseconds?"
            r"|century|decade|millennium|era|isoyear|yearweek"
            r"|dayofyear)"
            r"\s+FROM\s+(.+)$",
            a[0],
            re.IGNORECASE | re.DOTALL,
        )
        if m is None:
            return None
        part, x = m.group(1).lower(), m.group(2).strip()
        return _part_expr(part, x)

    sql = _rewrite_calls(sql, "extract", extract_x)

    # DuckDB's date_trunc returns DATE for day-or-coarser parts (Spark:
    # always TIMESTAMP) — add the cast when the part is a literal
    def datetrunc_x(a):
        if len(a) != 2:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[0])
        if m is None:
            return None
        part = _lit_text(stash, m.group(1)).lower()
        x = a[1]
        # Spark's date_trunc lacks these units (returns NULL): build the
        # floor explicitly. DuckDB FLOORS century/millennium here
        # (2024→2000-01-01) even though its century() PART is ceil-based
        # (2024→21) — probed, batch 24.
        if part in ("decade", "century", "millennium"):
            n = {"decade": 10, "century": 100, "millennium": 1000}[part]
            return (
                f"make_date(CAST(floor(year({x}) / {n}.0) AS INT) * {n}, "
                f"1, 1)"
            )
        if part == "isoyear":
            # Monday of ISO week 1 = week-trunc of Jan 4 of the ISO year
            return (
                f"CAST(date_trunc('WEEK', make_date(CAST(extract("
                f"YEAROFWEEK FROM {x}) AS INT), 1, 4)) AS DATE)"
            )
        if part in ("day", "week", "month", "quarter", "year"):
            return f"CAST(date_trunc({a[0]}, {x}) AS DATE)"
        return None

    sql = _rewrite_calls(sql, "datetrunc", datetrunc_x)
    sql = _rewrite_calls(sql, "date_trunc", datetrunc_x)

    # list/vector math (the embedding-pipeline family): lowered onto
    # Spark's higher-order aggregate/zip_with — whole-stage codegen, no
    # UDF, no explode. DuckDB's integer list_sum returns HUGEINT; the
    # double accumulator here is the documented divergence.
    def _dot(a, b):
        return (
            f"aggregate(zip_with({a}, {b}, (__x, __y) -> __x * __y), "
            "CAST(0 AS DOUBLE), (__s, __v) -> __s + __v)"
        )

    def _norm2(a):
        return f"aggregate({a}, CAST(0 AS DOUBLE), (__s, __x) -> __s + __x * __x)"

    for fname in ("list_cosine_similarity", "array_cosine_similarity"):
        sql = _rewrite_calls(
            sql,
            fname,
            lambda a: (
                f"({_dot(a[0], a[1])} / (sqrt({_norm2(a[0])}) * "
                f"sqrt({_norm2(a[1])})))"
                if len(a) == 2
                else None
            ),
        )
    for fname in ("list_dot_product", "list_inner_product",
                  "array_dot_product", "array_inner_product"):
        sql = _rewrite_calls(
            sql, fname, lambda a: _dot(a[0], a[1]) if len(a) == 2 else None
        )
    for fname in ("list_distance", "array_distance"):
        sql = _rewrite_calls(
            sql,
            fname,
            lambda a: (
                f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, "
                "(__x, __y) -> (__x - __y) * (__x - __y)), "
                "CAST(0 AS DOUBLE), (__s, __v) -> __s + __v))"
                if len(a) == 2
                else None
            ),
        )
    # list_sum/list_avg are lowered later (round-4 hunt batch 10) with
    # DuckDB's NULL semantics: NULL elements ignored, empty/all-NULL → NULL.
    # NULLs in the needle are IGNORED by DuckDB (probed round 7:
    # list_has_all([1,NULL],[NULL]) IS TRUE), and an empty needle
    # literal is array<void> — array_except coerces where a
    # forall/array_contains lambda fails analysis
    sql = _rewrite_calls(
        sql,
        "list_has_all",
        lambda a: (
            # the coalesce(…, array()) wrappers keep a bare NULL literal
            # analyzable (filter/array_except reject NullType); the CASE
            # still yields NULL for NULL inputs
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE size(array_except(filter(coalesce({a[1]}, array()), "
            f"__lha -> __lha IS NOT NULL), "
            f"coalesce({a[0]}, array()))) = 0 END)"
            if len(a) == 2
            else None
        ),
    )
    sql = _rewrite_calls(
        sql,
        "list_select",
        lambda a: (
            f"transform({a[1]}, __i -> try_element_at({a[0]}, __i))"
            if len(a) == 2
            else None
        ),
    )

    # hash digests: Spark spells the SHA-2 family sha2(x, bits)
    for bits in (224, 256, 384, 512):
        sql = _rewrite_calls(
            sql,
            f"sha{bits}",
            lambda a, _b=bits: f"sha2({a[0]}, {_b})" if len(a) == 1 else None,
        )

    # float classification: isfinite/isinf have no Spark spelling
    # (NaN compares greater than any value in Spark, so abs(x) < inf is
    # false for NaN — exactly DuckDB's isfinite). DuckDB also accepts
    # DATE/TIMESTAMP (finite unless the ±infinity sentinels, which
    # Spark's types cannot represent): a temporal-literal/cast arg
    # lowers to a NULL-propagating constant instead of abs() (batch 28).
    def _temporal_arg(x: str) -> bool:
        return bool(
            re.search(
                r"\b(?:DATE|TIMESTAMP(?:TZ)?)\s*\x00LIT\d+\x00"
                r"|\bAS\s+(?:DATE|TIMESTAMP(?:_NTZ|TZ)?)\s*\)",
                x,
                re.IGNORECASE,
            )
        )

    sql = _rewrite_calls(
        sql,
        "isfinite",
        lambda a: (
            (
                f"(({a[0]}) = ({a[0]}))"
                if _temporal_arg(a[0])
                else f"(abs({a[0]}) < double('Infinity'))"
            )
            if len(a) == 1
            else None
        ),
    )
    sql = _rewrite_calls(
        sql,
        "isinf",
        lambda a: (
            (
                f"(({a[0]}) <> ({a[0]}))"
                if _temporal_arg(a[0])
                else f"(abs({a[0]}) = double('Infinity'))"
            )
            if len(a) == 1
            else None
        ),
    )

    # bit_count counts ones in the value's OWN width in DuckDB
    # (bit_count(-1::SMALLINT) = 16) while Spark sign-extends to 64
    # bits. A visible narrow CAST in the argument masks to that width;
    # narrow-typed COLUMNS are not statically knowable and keep the
    # 64-bit count (documented divergence, batch 28).
    def bit_count_x(a):
        if len(a) != 1:
            return None
        m = re.search(
            r"\bAS\s+(TINYINT|INT1|SMALLINT|INT2|SHORT|INTEGER|INT4|INT)\s*\)",
            a[0],
            re.IGNORECASE,
        )
        if m is None:
            return None  # leave for Spark's builtin
        width = {
            "TINYINT": 255,
            "INT1": 255,
            "SMALLINT": 65535,
            "INT2": 65535,
            "SHORT": 65535,
        }.get(m.group(1).upper(), 4294967295)
        return f"bit_count(({a[0]}) & {width})"

    sql = _rewrite_calls(sql, "bit_count", bit_count_x)

    # BITSTRING literals (batch 28): Spark has no bit type, and the
    # repo's data model never stores one — support the literal surface
    # by lowering ``BITSTRING '0101'`` to its text and the bit accessors
    # to string ops. Column-typed bitstrings can't exist here (no
    # source produces them), so literal-scope is the whole surface.
    def _strip_bits(x: str) -> str:
        return re.sub(
            r"\b(?:BITSTRING|BIT)\s+(\x00LIT\d+\x00)",
            r"\1",
            x,
            flags=re.IGNORECASE,
        )

    sql = _rewrite_calls(
        sql,
        "get_bit",
        lambda a: (
            f"CAST(substring({_strip_bits(a[0])}, ({a[1]}) + 1, 1) AS INT)"
            if len(a) == 2
            else None
        ),
    )
    sql = _rewrite_calls(
        sql,
        "set_bit",
        lambda a: (
            f"concat(substring({_strip_bits(a[0])}, 1, ({a[1]})), "
            f"CAST(({a[2]}) AS STRING), "
            f"substring({_strip_bits(a[0])}, ({a[1]}) + 2))"
            if len(a) == 3
            else None
        ),
    )
    sql = _rewrite_calls(
        sql,
        "bit_position",
        lambda a: (
            f"instr({_strip_bits(a[1])}, {_strip_bits(a[0])})"
            if len(a) == 2
            else None
        ),
    )
    sql = _rewrite_calls(
        sql,
        "bit_length",
        lambda a: (
            # bitstring literal: its length in bits IS the text length;
            # other args keep Spark's builtin (8 × octets, same as Duck)
            f"length({_strip_bits(a[0])})"
            if len(a) == 1
            and re.search(r"\b(?:BITSTRING|BIT)\s+\x00LIT", a[0], re.IGNORECASE)
            else None
        ),
    )
    # bare literals that reached no accessor (SELECT BITSTRING '0101')
    sql = _strip_bits(sql)

    # formatReadableDecimalSize: the DECIMAL-unit sibling of
    # format_bytes (probed batch 30: '999 bytes', '1.0 kB',
    # '999.9 kB' — one decimal TRUNCATED, same convention). Same pure
    # integer arithmetic as format_bytes_x (a double intermediate
    # mis-rounds at int64 extremes); largest unit PB like DuckDB
    # (int64 max renders '9223.3 PB', probed).
    def format_decimal_x(a):
        if len(a) != 1:
            return None
        e = a[0]
        av = f"abs(CAST({e} AS BIGINT))"
        branches = []
        for k, unit in enumerate(["kB", "MB", "GB", "TB", "PB"], 1):
            u = 1000 ** k
            rendered = (
                f"concat(CASE WHEN ({e}) < 0 THEN '-' ELSE '' END, "
                f"CAST({av} DIV {u}L AS STRING), '.', "
                f"CAST(({av} % {u}L) * 10 DIV {u}L AS STRING), ' {unit}')"
            )
            if k < 5:
                branches.append(
                    f"WHEN {av} < {1000 ** (k + 1)}L THEN {rendered}"
                )
            else:
                branches.append(f"ELSE {rendered}")
        return (
            f"(CASE WHEN {av} < 1000L "
            f"THEN concat(CAST({e} AS BIGINT), ' bytes') "
            + " ".join(branches)
            + " END)"
        )

    sql = _rewrite_calls(
        sql, "formatReadableDecimalSize", format_decimal_x
    )

    # string-literal → BOOLEAN casts (batch 31, probed): DuckDB accepts
    # exactly t/f/true/false/1/0 case-insensitively, NO trimming —
    # Spark also accepts y/yes/n/no and trims. Literal casts fold at
    # transpile time; invalid literals under plain CAST are left (DuckDB
    # errors there — error-vs-value class, documented). Column-typed
    # casts are not statically knowable and keep Spark's semantics.
    def bool_cast(m: re.Match) -> str:
        low = _lit_text(stash, m.group(2)).lower()
        if low in ("t", "true", "1"):
            return "true"
        if low in ("f", "false", "0"):
            return "false"
        if m.group(1):
            return "CAST(NULL AS BOOLEAN)"
        return m.group(0)

    if stash is not None:
        sql = re.sub(
            r"\b(TRY_)?CAST\s*\(\s*\x00LIT(\d+)\x00\s+AS\s+BOOL(?:EAN)?\s*\)",
            bool_cast,
            sql,
            flags=re.IGNORECASE,
        )

    # encode/decode (batch 35): DuckDB's are UTF-8 str↔blob with one
    # arg; Spark demands an explicit charset
    sql = _rewrite_calls(
        sql,
        "encode",
        lambda a: f"encode({a[0]}, 'UTF-8')" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "decode",
        lambda a: f"decode({a[0]}, 'UTF-8')" if len(a) == 1 else None,
    )

    # BLOB literals (batch 35): DuckDB '\xAA…'::BLOB escapes are BYTES;
    # Spark's string→binary cast would UTF-8-encode the escape TEXT.
    # Literal casts fold to unhex(hex-of-bytes).
    def blob_cast(m: re.Match) -> str:
        text = _lit_text(stash, m.group(2))
        out, i = bytearray(), 0
        while i < len(text):
            em = re.match(r"\\x([0-9a-fA-F]{2})", text[i:])
            if em:
                out.append(int(em.group(1), 16))
                i += 4
            else:
                out.extend(text[i].encode("utf-8"))
                i += 1
        return f"unhex('{out.hex().upper()}')"

    if stash is not None:
        sql = re.sub(
            r"\b(TRY_)?CAST\s*\(\s*\x00LIT(\d+)\x00\s+AS\s+"
            r"(?:BLOB|BYTEA|BINARY|VARBINARY)\s*\)",
            blob_cast,
            sql,
            flags=re.IGNORECASE,
        )

    # arg_max/arg_min (+ DuckDB's min_by/max_by aliases): skip rows
    # whose VALUE is NULL (probed batch 36: arg_max over (NULL@k=2,
    # 1@k=1) returns 1 — Spark's max_by would return the NULL). NULLing
    # the key for NULL values makes Spark's max_by ignore those rows.
    # 3-arg top-N form arg_max(arg, val, n) → LIST of the args for the
    # n largest vals, val-descending; rows with a NULL arg or val are
    # skipped like the 2-arg form. The oracle's DuckDB v1.0 predates it,
    # so semantics are pinned by pytest fixtures (no differential):
    # collect (val, arg) pairs, comparator-sort, project, slice. O(group)
    # memory per group vs DuckDB's O(n) heap — acceptable for the
    # interactive surface; a pipeline top-n uses the window operators.
    def _argmax_n(a: list[str], f: str, desc: bool) -> str | None:
        if len(a) == 2:
            return (
                f"{f}({a[0]}, CASE WHEN ({a[0]}) IS NULL "
                f"THEN NULL ELSE ({a[1]}) END)"
            )
        if len(a) != 3:
            return None
        gt, lt = ("-1", "1") if desc else ("1", "-1")
        cmp_ = (
            f"(l, r) -> CASE WHEN l.v > r.v THEN {gt} "
            f"WHEN l.v < r.v THEN {lt} ELSE 0 END"
        )
        pairs = (
            f"collect_list(CASE WHEN ({a[0]}) IS NOT NULL AND "
            f"({a[1]}) IS NOT NULL THEN struct(({a[1]}) AS v, "
            f"({a[0]}) AS a) END)"
        )
        return (
            f"slice(transform(array_sort({pairs}, {cmp_}), "
            f"x -> x.a), 1, {a[2]})"
        )

    for _fname, _spark_fn, _desc in (
        ("arg_max", "max_by", True),
        ("arg_min", "min_by", False),
        ("max_by", "max_by", True),
        ("min_by", "min_by", False),
    ):
        sql = _rewrite_calls(
            sql,
            _fname,
            lambda a, _f=_spark_fn, _d=_desc: _argmax_n(a, _f, _d),
        )

    # numeric-literal → integer casts ROUND half-away in DuckDB
    # (3.7::INT = 4, -3.5::INT = -4) where Spark truncates. Literals
    # fold exactly at transpile; double-typed COLUMNS keep Spark's
    # truncation (statically unknowable — documented divergence).
    def int_cast(m: re.Match) -> str:
        from decimal import ROUND_HALF_UP, Decimal

        v = Decimal(m.group(2)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        return f"{m.group(1) or ''}CAST({v} AS {m.group(3)})"

    # the literal may be parenthesized — `(-3.5)::INT` arrives as
    # CAST((-3.5) AS INT) from rewrite_pg_cast (wave 44)
    _num = r"(?:\(\s*)?(-?\d+\.\d+)(?:\s*\))?"
    sql = re.sub(
        r"\b(TRY_)?CAST\s*\(\s*" + _num + r"\s+AS\s+"
        r"(TINYINT|INT1|SMALLINT|INT2|SHORT|INTEGER|INT4|INT|BIGINT"
        r"|INT8|LONG|SIGNED)\s*\)",
        int_cast,
        sql,
        flags=re.IGNORECASE,
    )

    # …and numeric-literal → DECIMAL(p,s) scale reduction TRUNCATES
    # toward zero in DuckDB (123.456::DECIMAL(6,2) = 123.45 — probed
    # v1.0) where Spark rounds HALF_UP (123.46). Fold literals exactly;
    # typed COLUMNS keep Spark's rounding (documented divergence,
    # wave 44).
    def dec_cast(m: re.Match) -> str:
        from decimal import ROUND_DOWN, Decimal

        s = int(m.group(5))
        v = Decimal(m.group(2)).quantize(
            Decimal(1).scaleb(-s), rounding=ROUND_DOWN
        )
        return (
            f"{m.group(1) or ''}CAST({v} AS "
            f"{m.group(3)}({m.group(4)},{s}))"
        )

    sql = re.sub(
        r"\b(TRY_)?CAST\s*\(\s*" + _num + r"\s+AS\s+"
        r"(DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)",
        dec_cast,
        sql,
        flags=re.IGNORECASE,
    )

    # json_valid → VARIANT try-parse probe (NULL in, NULL out like DuckDB)
    sql = _rewrite_calls(
        sql,
        "json_valid",
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN NULL "
            f"ELSE try_parse_json({a[0]}) IS NOT NULL END"
            if len(a) == 1
            else None
        ),
    )

    # DuckDB log(x) is base-10 (Spark's is ln); two-arg log(b, x) agrees
    sql = _rewrite_calls(
        sql, "log", lambda a: f"log10({a[0]})" if len(a) == 1 else None
    )

    # DuckDB concat skips NULLs and stringifies every argument; Spark's
    # returns NULL on any NULL input
    sql = _rewrite_calls(
        sql,
        "concat",
        lambda a: (
            "concat_ws('', "
            + ", ".join(f"CAST({x} AS STRING)" for x in a)
            + ")"
            if len(a) >= 2
            else None
        ),
    )

    # DuckDB regexp_replace replaces the FIRST match unless the 'g' flag
    # is passed; Spark is always-global with no flags argument. The
    # explicit-global form maps exactly; 'i' folds into the pattern.
    # (The bare 3-arg form stays Spark-global — documented divergence.)
    # Replacement backreferences are RE2's ``\1``; Java's are ``$1`` and
    # treat a bare ``$`` as special — literal replacements translate.
    def xlate_replacement(arg):
        m = re.fullmatch(r"\x00LIT(\d+)\x00", arg)
        if m is None:
            return arg  # non-literal replacement: pass through
        text = _lit_text(stash, m.group(1))
        out = re.sub(r"\\(\d)", r"$\1", text.replace("$", r"\$"))
        if out == text:
            return arg
        return _stash_add(stash, "'" + out.replace("'", "''") + "'")

    def regexp_replace_x(a):
        # DuckDB regexp_replace WITHOUT the 'g' flag replaces only the
        # FIRST match; Spark's always replaces ALL — a silent divergence
        # on one of the most-typed functions (found by hunt batch 10).
        # First-only lowers to prefix ⊕ replaced-first-match ⊕ suffix
        # via regexp_instr/regexp_extract; a replacement with backrefs
        # re-applies the pattern ANCHORED to the extracted match text
        # (needs a literal pattern — non-literal + backrefs stays
        # unrewritten).
        if len(a) not in (3, 4):
            return None
        flags = ""
        if len(a) == 4:
            m = re.fullmatch(r"\x00LIT(\d+)\x00", a[3])
            if m is None:
                # DuckDB's 4th arg is always a flag STRING; Spark's is a
                # numeric position — passing it through would silently
                # reinterpret, so a non-literal flags arg must raise.
                raise NotImplementedError(
                    "regexp_replace flags must be a string literal"
                )
            flags = _lit_text(stash, m.group(1))
        # Only flags with verified Spark equivalents are lowered:
        # 'i' → (?i) prefix, 's' → (?s) dotall prefix (probed: DuckDB
        # default '.' is newline-excluding, same as Java), 'c' is the
        # case-sensitive default (no-op), 'g' handled below. Anything
        # else ('m'/'n'/'l'/'p') must raise HERE: leaving the call
        # unrewritten is NOT loud — Spark reads arg 4 as a numeric
        # `position`, casts 'm' to NULL and silently returns NULL.
        if not set(flags) <= {"i", "g", "s", "c"}:
            raise NotImplementedError(
                f"regexp_replace flag(s) {flags!r}: only 'i'/'g'/'s'/'c' "
                "have verified Spark equivalents"
            )
        pat = a[1]
        prefix = ("(?i)" if "i" in flags else "") + (
            "(?s)" if "s" in flags else ""
        )
        if prefix:
            pm = re.fullmatch(r"\x00LIT(\d+)\x00", pat)
            if pm is None:
                return None
            inner = _lit_text(stash, pm.group(1))
            pat = _stash_add(
                stash, "'" + (prefix + inner).replace("'", "''") + "'"
            )
        repl = xlate_replacement(a[2])
        if "g" in flags:
            return f"regexp_replace({a[0]}, {pat}, {repl})"
        s_ = a[0]
        pos = f"regexp_instr({s_}, {pat})"
        mtxt = f"regexp_extract({s_}, {pat}, 0)"
        rl = re.fullmatch(r"\x00LIT(\d+)\x00", repl)
        repl_text = _lit_text(stash, rl.group(1)) if rl else repl
        if re.search(r"\$\d", repl_text):
            pm = re.fullmatch(r"\x00LIT(\d+)\x00", pat)
            if pm is None:
                return None  # backrefs need a literal pattern to anchor
            inner = _lit_text(stash, pm.group(1))
            anchored = _stash_add(
                stash,
                "'" + ("^(?:" + inner + ")$").replace("'", "''") + "'",
            )
            new = f"regexp_replace({mtxt}, {anchored}, {repl})"
        else:
            new = repl
        return (
            f"(CASE WHEN {s_} IS NULL OR {pos} = 0 THEN {s_} "
            f"ELSE concat(substring({s_}, 1, {pos} - 1), {new}, "
            f"substring({s_}, {pos} + length({mtxt}))) END)"
        )

    sql = _rewrite_calls(sql, "regexp_replace", regexp_replace_x)

    # numeric trunc (DuckDB truncates toward zero; Spark's trunc is the
    # date function) — the 2-arg date form passes through untouched
    sql = _rewrite_calls(
        sql,
        "trunc",
        lambda a: f"CAST({a[0]} AS BIGINT)" if len(a) == 1 else None,
    )

    # epoch(ts) → fractional seconds (DuckDB returns DOUBLE; the cast
    # keeps Spark from typing the division as DECIMAL via the literal)
    sql = _rewrite_calls(
        sql,
        "epoch",
        lambda a: f"(CAST(unix_micros({a[0]}) AS DOUBLE) / 1000000)"
        if len(a) == 1
        else None,
    )

    # even(x): round away from zero to the next even number
    sql = _rewrite_calls(
        sql,
        "even",
        lambda a: f"(CAST(sign({a[0]}) AS DOUBLE) * 2 * ceil(abs({a[0]}) / 2))"
        if len(a) == 1
        else None,
    )
    # signbit: DuckDB returns false for -0.0, so a plain comparison matches
    sql = _rewrite_calls(
        sql,
        "signbit",
        lambda a: f"(({a[0]}) < 0)" if len(a) == 1 else None,
    )

    # DuckDB's zero-arg count() is count(*)
    sql = _rewrite_calls(
        sql, "count", lambda a: "count(*)" if a == [""] or a == [] else None
    )

    # substr/substring with start 0: DuckDB treats position 0 as one
    # virtual character BEFORE the string (the length budget pays for
    # it); Spark's 0 behaves like 1 — a silent off-by-one
    def substr_zero_x(a):
        if len(a) == 3 and a[1].strip() == "0":
            return f"substr({a[0]}, 1, ({a[2]}) - 1)"
        if len(a) == 2 and a[1].strip() == "0":
            return f"substr({a[0]}, 1)"
        return None

    sql = _rewrite_calls(sql, "substr", substr_zero_x)
    sql = _rewrite_calls(sql, "substring", substr_zero_x)

    # monthname/dayname return FULL names in DuckDB; Spark 4's
    # same-named builtins return abbreviations
    mon = _stash_add(stash, "'MMMM'")
    day = _stash_add(stash, "'EEEE'")
    sql = _rewrite_calls(
        sql,
        "monthname",
        lambda a: f"date_format({a[0]}, {mon})" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "dayname",
        lambda a: f"date_format({a[0]}, {day})" if len(a) == 1 else None,
    )

    # DuckDB's skewness/kurtosis are the bias-corrected SAMPLE
    # estimators (G1, G2); Spark's are the population moments (g1, g2).
    # G1 = g1·√(n(n−1))/(n−2);  G2 = ((n+1)g2 + 6)·(n−1)/((n−2)(n−3)).
    # n ≤ 2 / n ≤ 3 divide by zero → NULL on both engines.
    sql = _rewrite_calls(
        sql,
        "skewness",
        lambda a: (
            f"(skewness({a[0]}) * sqrt(count({a[0]}) * (count({a[0]}) - 1))"
            f" / (count({a[0]}) - 2))"
        )
        if len(a) == 1
        else None,
    )
    sql = _rewrite_calls(
        sql,
        "kurtosis",
        lambda a: (
            f"(((count({a[0]}) + 1) * kurtosis({a[0]}) + 6)"
            f" * (count({a[0]}) - 1)"
            f" / ((count({a[0]}) - 2) * (count({a[0]}) - 3)))"
        )
        if len(a) == 1
        else None,
    )

    # product(): no Spark aggregate — fold actual multiplications over
    # the collected group (exact, unlike exp-sum-log which drifts in the
    # last ulp); empty group → NULL like DuckDB
    sql = _rewrite_calls(
        sql,
        "product",
        lambda a: (
            f"(CASE WHEN count({a[0]}) = 0 THEN NULL ELSE"
            f" aggregate(collect_list(CAST({a[0]} AS DOUBLE)),"
            f" CAST(1.0 AS DOUBLE), (__pa, __pv) -> __pa * __pv) END)"
        )
        if len(a) == 1
        else None,
    )

    # hamming/jaccard string similarity (character-level, like DuckDB):
    # split to char arrays; jaccard drops split()'s trailing '' sentinel
    def chars(x):
        e = _stash_add(stash, "''")
        return f"array_remove(split({x}, {e}), {e})"

    def hamming_x(a):
        if len(a) != 2:
            return None
        e = _stash_add(stash, "''")
        return (
            f"size(filter(zip_with(split({a[0]}, {e}), split({a[1]}, {e}),"
            f" (__hx, __hy) -> __hx <> __hy), __hz -> __hz))"
        )

    sql = _rewrite_calls(sql, "hamming", hamming_x)
    sql = _rewrite_calls(sql, "mismatches", hamming_x)
    sql = _rewrite_calls(
        sql,
        "jaccard",
        lambda a: (
            f"(CAST(size(array_intersect({chars(a[0])}, {chars(a[1])}))"
            f" AS DOUBLE) / size(array_union({chars(a[0])}, {chars(a[1])})))"
        )
        if len(a) == 2
        else None,
    )

    # list_sort family: DuckDB's default null order is NULLS LAST in
    # BOTH directions (and takes 'ASC'/'DESC' + 'NULLS FIRST/LAST'
    # string args); sort_array(l) puts nulls first — a silent
    # divergence. Spark's array_sort(l) matches the asc default; the
    # other combinations lower to a comparator.
    def _cmp_sort(l, desc, nulls_first):
        n_x = "-1" if nulls_first else "1"  # x NULL → before/after y
        n_y = "1" if nulls_first else "-1"
        lt = "1" if desc else "-1"
        gt = "-1" if desc else "1"
        return (
            f"array_sort({l}, (__sx, __sy) -> CASE "
            f"WHEN __sx IS NULL AND __sy IS NULL THEN 0 "
            f"WHEN __sx IS NULL THEN {n_x} "
            f"WHEN __sy IS NULL THEN {n_y} "
            f"WHEN __sx < __sy THEN {lt} "
            f"WHEN __sx > __sy THEN {gt} ELSE 0 END)"
        )

    def list_sort_x(a):
        if not 1 <= len(a) <= 3:
            return None
        desc = False
        nulls_first = False
        for extra in a[1:]:
            m = re.fullmatch(r"\x00LIT(\d+)\x00", extra.strip())
            if m is None:
                return None
            text = _lit_text(stash, m.group(1)).strip().upper()
            if text == "DESC":
                desc = True
            elif text == "NULLS FIRST":
                nulls_first = True
            elif text not in ("ASC", "NULLS LAST"):
                return None
        if not desc and not nulls_first:
            return f"array_sort({a[0]})"  # asc + nulls last: the default
        return _cmp_sort(a[0], desc, nulls_first)

    sql = _rewrite_calls(sql, "list_sort", list_sort_x)
    for _rs in ("list_reverse_sort", "array_reverse_sort"):
        sql = _rewrite_calls(
            sql,
            _rs,
            lambda a: _cmp_sort(a[0], True, False) if len(a) == 1 else None,
        )

    # 2-param (value, index) lambdas: DuckDB's index is 1-BASED,
    # Spark's 0-based — rebase inside the body (list_* spellings only;
    # a plain Spark transform/filter keeps Spark semantics)
    def idx_lambda(fn_spark):
        def x(a):
            if len(a) != 2:
                return None
            m = re.match(
                r"^\s*\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)"
                r"\s*->\s*(.+)$",
                a[1],
                re.DOTALL,
            )
            if m is None:
                return None
            v, i, body = m.groups()
            nb = re.sub(rf"\b{re.escape(i)}\b", "(__li + 1)", body)
            return f"{fn_spark}({a[0]}, ({v}, __li) -> {nb})"

        return x

    sql = _rewrite_calls(sql, "list_transform", idx_lambda("transform"))
    sql = _rewrite_calls(sql, "apply", idx_lambda("transform"))
    sql = _rewrite_calls(sql, "list_apply", idx_lambda("transform"))
    sql = _rewrite_calls(sql, "array_transform", idx_lambda("transform"))
    sql = _rewrite_calls(sql, "array_apply", idx_lambda("transform"))
    sql = _rewrite_calls(sql, "list_filter", idx_lambda("filter"))
    sql = _rewrite_calls(sql, "array_filter", idx_lambda("filter"))

    # printf: Java's %f/%d/%x reject the DECIMAL/INT types Spark gives
    # literals — cast each arg to what its conversion expects
    def printf_x(a):
        if len(a) < 2:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[0])
        if m is None:
            return None
        fmt = _lit_text(stash, m.group(1))
        convs = []
        for cm in re.finditer(
            r"%(?:(\d+)\$)?[-#+ 0,]*\d*(?:\.\d+)?([a-zA-Z])", fmt
        ):
            pos, conv = cm.group(1), cm.group(2).lower()
            idx = int(pos) - 1 if pos else len(convs)
            while len(convs) <= idx:
                convs.append(None)
            convs[idx] = conv
        vals = []
        changed = False
        for i, arg in enumerate(a[1:]):
            conv = convs[i] if i < len(convs) else None
            if conv in ("f", "e", "g"):
                vals.append(f"CAST({arg} AS DOUBLE)")
                changed = True
            elif conv in ("d", "x", "o"):
                vals.append(f"CAST({arg} AS BIGINT)")
                changed = True
            else:
                vals.append(arg)
        if not changed:
            return None
        return f"printf({a[0]}, {', '.join(vals)})"

    sql = _rewrite_calls(sql, "printf", printf_x)

    # entropy(x): Shannon entropy over the value distribution —
    # log2(n) − Σ c·log2(c)/n via a run-length fold over the sorted
    # collected group (string-keyed: equality-preserving for the
    # practical types, and type-generic for the fold state)
    def entropy_x(a):
        if len(a) != 1:
            return None
        x = a[0]
        fold = (
            f"aggregate(array_sort(collect_list(CAST({x} AS STRING))), "
            f"struct(CAST(NULL AS STRING) AS p, CAST(0 AS DOUBLE) AS r, "
            f"CAST(0 AS DOUBLE) AS acc), "
            f"(__es, __ev) -> CASE WHEN __es.p IS NULL OR __ev = __es.p "
            f"THEN struct(__ev AS p, __es.r + 1 AS r, __es.acc AS acc) "
            f"ELSE struct(__ev AS p, CAST(1 AS DOUBLE) AS r, "
            f"__es.acc + __es.r * log2(__es.r) AS acc) END, "
            f"__es -> __es.acc + CASE WHEN __es.r > 0 "
            f"THEN __es.r * log2(__es.r) ELSE 0 END)"
        )
        return (
            f"(CASE WHEN count({x}) = 0 THEN NULL "
            f"ELSE log2(count({x})) - {fold} / count({x}) END)"
        )

    sql = _rewrite_calls(sql, "entropy", entropy_x)

    # list_reduce and its alias reduce have no init arg: DuckDB seeds the
    # fold with the first element. DuckDB errors on an empty list; this
    # lowering yields NULL instead (documented softening). get() is
    # 0-based and rename-proof. Spark's own 3-arg reduce passes through.
    def list_reduce_x(a):
        if len(a) != 2:
            return None
        lst, lam = a[0], a[1]
        return (
            f"aggregate(slice({lst}, 2, greatest(size({lst}) - 1, 0)), "
            f"get({lst}, 0), {lam})"
        )

    for _red in ("list_reduce", "reduce"):
        sql = _rewrite_calls(sql, _red, list_reduce_x)
    # list_aggregate 3-arg string_agg form (2-arg min/max/count are
    # lowered earlier by rewrite_list_aggregate; sum stays loud — DuckDB
    # promotes to HUGEINT, Spark would silently overflow)
    def list_agg3_x(a):
        if len(a) != 3:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[1])
        if m and _lit_text(stash, m.group(1)).lower() == "string_agg":
            return f"array_join({a[0]}, {a[2]})"
        return None

    sql = _rewrite_calls(sql, "list_aggregate", list_agg3_x)
    sql = _rewrite_calls(sql, "list_aggr", list_agg3_x)
    # first non-null element
    sql = _rewrite_calls(
        sql,
        "list_any_value",
        lambda a: (
            f"try_element_at(filter({a[0]}, __la -> __la IS NOT NULL), 1)"
        )
        if len(a) == 1
        else None,
    )
    # argsort (1-based positions that would sort the list ascending)
    sql = _rewrite_calls(
        sql,
        "list_grade_up",
        lambda a: (
            f"CASE WHEN size({a[0]}) = 0 THEN CAST(array() AS ARRAY<INT>) "
            f"ELSE transform(array_sort(arrays_zip({a[0]}, "
            f"sequence(1, size({a[0]})))), __g -> __g['1']) END"
        )
        if len(a) == 1
        else None,
    )
    # unicode(s): first codepoint — Spark's ascii() already returns the
    # full codepoint despite its name; DuckDB returns -1 for '' where
    # ascii('') is 0 on both engines (probed round 7)
    sql = _rewrite_calls(
        sql,
        "unicode",
        lambda a: (
            f"(CASE WHEN length({a[0]}) = 0 THEN -1 ELSE ascii({a[0]}) END)"
        ) if len(a) == 1 else None,
    )

    # CAST of a string literal:
    # - '90 minutes' AS INTERVAL → a typed interval literal (Spark's
    #   CalendarIntervalType can't be collected; a day-time/year-month
    #   literal can);
    # - '<json list>' AS ARRAY<…>: DuckDB parses list syntax out of
    #   strings; Spark's CAST rejects string→array — route through
    #   from_json (malformed text yields NULL instead of an error:
    #   documented softening).
    _IVL_UNITS = {
        "year": "YEAR", "years": "YEAR", "month": "MONTH",
        "months": "MONTH", "day": "DAY", "days": "DAY", "hour": "HOUR",
        "hours": "HOUR", "minute": "MINUTE", "minutes": "MINUTE",
        "min": "MINUTE", "second": "SECOND", "seconds": "SECOND",
        "sec": "SECOND",
    }

    def literal_cast_x(a):
        if len(a) != 1:
            return None
        m = re.fullmatch(
            r"(\x00LIT\d+\x00)\s+AS\s+(ARRAY\s*<.+>)\s*",
            a[0],
            re.IGNORECASE | re.DOTALL,
        )
        if m is not None:
            schema = _stash_add(
                stash, "'" + m.group(2).replace("'", "''") + "'"
            )
            return f"from_json({m.group(1)}, {schema})"
        m = re.fullmatch(
            r"(\x00LIT(\d+)\x00)\s+AS\s+INTERVAL", a[0].strip(),
            re.IGNORECASE,
        )
        if m is None:
            return None
        text = _lit_text(stash, m.group(2)).strip().lower()
        parts = re.findall(r"(\d+)\s*([a-z]+)", text)
        if not parts or not all(u in _IVL_UNITS for _, u in parts):
            return None
        terms = [f"INTERVAL '{n}' {_IVL_UNITS[u]}" for n, u in parts]
        joined = " + ".join(terms)
        return f"({joined})" if len(terms) > 1 else joined

    sql = _rewrite_calls(sql, "CAST", literal_cast_x)

    # json_extract / json_extract_path: the '->' semantics (JSON out —
    # documented string-quoting divergence shared with the arrow
    # lowering); accepts '$.a[1].b' JSONPaths, '/a/b' pointers, bare keys
    def _json_norm_path(raw: str) -> str | None:
        m = re.fullmatch(r"\x00LIT(\d+)\x00", raw.strip())
        if m is None:
            return None
        p = _lit_text(stash, m.group(1))
        if p.startswith("/"):
            # JSON-pointer: numeric tokens are ARRAY indexes (wave 43:
            # /a/1 must become $.a[1], not the object key $.a.1 — a
            # numeric OBJECT key is the rarer case and stays best-effort)
            out = "$"
            for tok in p.strip("/").split("/"):
                out += f"[{tok}]" if tok.isdigit() else f".{tok}"
            p = out
        elif not p.startswith("$"):
            p = "$." + p
        return _stash_add(stash, "'" + p.replace("'", "''") + "'")

    def json_extract_x(a):
        if len(a) != 2:
            return None
        # list-of-paths form (batch 34): json_extract(j, ['$.a','$.b'])
        # → one extract per path, array result (the bracket literal is
        # already array(...) — rewrite_array_literals runs earlier)
        lm = re.fullmatch(
            r"(?:\[(.*)\]|array\s*\((.*)\))", a[1].strip(), re.DOTALL | re.IGNORECASE
        )
        if lm is not None:
            lm_body = lm.group(1) if lm.group(1) is not None else lm.group(2)
            parts = []
            for item in _split_top_level(lm_body):
                ph = _json_norm_path(item)
                if ph is None:
                    return None
                parts.append(f"get_json_object({a[0]}, {ph})")
            return f"array({', '.join(parts)})"
        ph = _json_norm_path(a[1])
        if ph is None:
            return f"get_json_object({a[0]}, {a[1]})"
        return f"get_json_object({a[0]}, {ph})"

    sql = _rewrite_calls(sql, "json_extract", json_extract_x)
    sql = _rewrite_calls(sql, "json_extract_path", json_extract_x)

    # json_keys(j, path) 2-arg form (batch 34): keys of the object AT
    # the path (bare key or JSONPath) — the 1-arg form renames to
    # json_object_keys via FUNCTION_RENAMES
    def json_keys_x(a):
        if len(a) != 2:
            return None
        ph = _json_norm_path(a[1])
        if ph is None:
            return None
        return f"json_object_keys(get_json_object({a[0]}, {ph}))"

    sql = _rewrite_calls(sql, "json_keys", json_keys_x)

    # json_array / json_object constructors (wave 43): element-wise
    # json_quote (renders ANY value as JSON text — Spark's to_json
    # rejects scalars) folded with concat; NULL elements render as the
    # JSON null token, matching DuckDB.
    def _jval(x: str) -> str:
        return f"coalesce(json_quote({x}), {_stash_add(stash, chr(39) + 'null' + chr(39))})"

    def json_array_x(a):
        if len(a) == 1 and not a[0].strip():
            return _stash_add(stash, "'[]'")
        parts = ", ".join(_jval(x) for x in a)
        lb = _stash_add(stash, "'['")
        rb = _stash_add(stash, "']'")
        comma = _stash_add(stash, "','")
        return f"concat({lb}, concat_ws({comma}, array({parts})), {rb})"

    def json_object_x(a):
        if len(a) == 1 and not a[0].strip():
            return _stash_add(stash, "'{}'")
        if len(a) % 2:
            return None  # odd arity: DuckDB errors — stay loud
        colon = _stash_add(stash, "':'")
        pairs = ", ".join(
            f"concat(json_quote({a[i]}), {colon}, {_jval(a[i + 1])})"
            for i in range(0, len(a), 2)
        )
        lb = _stash_add(stash, "'{'")
        rb = _stash_add(stash, "'}'")
        comma = _stash_add(stash, "','")
        return f"concat({lb}, concat_ws({comma}, array({pairs})), {rb})"

    sql = _rewrite_calls(sql, "json_array", json_array_x)
    sql = _rewrite_calls(sql, "json_object", json_object_x)

    # json_transform(j, '{"a":"INTEGER"}') (+ its DuckDB alias
    # from_json): the structure literal compiles to a Spark schema and
    # lowers to the native from_json — typed struct out, NULL on
    # coercion failure, matching DuckDB (batch 34). A from_json whose
    # second arg is NOT a JSON structure literal stays native (Spark's
    # own DDL-string signature).
    def _jt_schema(spec) -> str:
        if isinstance(spec, dict):
            fields = ", ".join(
                f"`{k}`: {_jt_schema(v)}" for k, v in spec.items()
            )
            return f"STRUCT<{fields}>"
        if isinstance(spec, list):
            inner = _jt_schema(spec[0]) if spec else "STRING"
            return f"ARRAY<{inner}>"
        t = str(spec).upper()
        return _CAST_TYPE_MAP.get(t, t)

    def _jt_expr(j: str, path: str, spec) -> str:
        """Typed extraction of ``path`` from JSON text ``j`` per the
        structure spec. Scalars go get_json_object→CAST so DuckDB's
        string→number coercion ("1" → 1) survives; containers use
        from_json on the extracted subtree."""
        ph = _stash_add(stash, "'" + path.replace("'", "''") + "'")
        sub = f"get_json_object({j}, {ph})"
        if isinstance(spec, dict):
            fields = ", ".join(
                f"'{k}', {_jt_expr(j, f'{path}.{k}', v)}"
                for k, v in spec.items()
            )
            return f"named_struct({fields})"
        if isinstance(spec, list):
            sch = _stash_add(
                stash, "'" + _jt_schema(spec).replace("'", "''") + "'"
            )
            return f"from_json({sub}, {sch})"
        t = _CAST_TYPE_MAP.get(str(spec).upper(), str(spec).upper())
        return f"CAST({sub} AS {t})"

    def json_transform_x(a):
        if len(a) != 2:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[1].strip())
        if m is None:
            return None
        import json as _json

        try:
            spec = _json.loads(_lit_text(stash, m.group(1)))
        except ValueError:
            return None
        if isinstance(spec, dict):
            fields = ", ".join(
                f"'{k}', {_jt_expr(a[0], f'$.{k}', v)}"
                for k, v in spec.items()
            )
            return f"named_struct({fields})"
        if isinstance(spec, list):
            schema = _stash_add(
                stash, "'" + _jt_schema(spec).replace("'", "''") + "'"
            )
            return f"from_json({a[0]}, {schema})"
        return None

    sql = _rewrite_calls(sql, "json_transform", json_transform_x)
    sql = _rewrite_calls(sql, "from_json", json_transform_x)

    # json_type / json_array_length path forms: splice the path through
    # VARIANT extraction (to_json keeps string values QUOTED, which
    # get_json_object would strip — json_type('"x"') must stay VARCHAR).
    # json_type itself is a Python shim (functions/udf_compat.py).
    def _json_path_ph(raw):
        m = re.fullmatch(r"\x00LIT(\d+)\x00", raw.strip())
        if m is None:
            return None
        p = _lit_text(stash, m.group(1))
        if p.startswith("/"):
            # JSON-pointer: numeric tokens are ARRAY indexes (wave 43:
            # /a/1 must become $.a[1], not the object key $.a.1 — a
            # numeric OBJECT key is the rarer case and stays best-effort)
            out = "$"
            for tok in p.strip("/").split("/"):
                out += f"[{tok}]" if tok.isdigit() else f".{tok}"
            p = out
        elif not p.startswith("$"):
            p = "$." + p
        return _stash_add(stash, "'" + p.replace("'", "''") + "'")

    def json_type_path_x(a):
        if len(a) != 2:
            return None
        ph = _json_path_ph(a[1])
        if ph is None:
            return None
        return (
            f"json_type(to_json(try_variant_get("
            f"try_parse_json({a[0]}), {ph})))"
        )

    sql = _rewrite_calls(sql, "json_type", json_type_path_x)

    def json_array_length_x(a):
        # DuckDB: 0 for any valid non-array JSON (probed: '{}' and '"x"'
        # are 0), NULL for NULL input; optional JSONPath 2nd arg
        if len(a) == 1:
            target = a[0]
        elif len(a) == 2:
            ph = _json_path_ph(a[1])
            if ph is None:
                return None
            target = (
                f"to_json(try_variant_get(try_parse_json({a[0]}), {ph}))"
            )
        else:
            return None
        return (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
            f"ELSE coalesce(json_array_length({target}), 0) END)"
        )

    sql = _rewrite_calls(sql, "json_array_length", json_array_length_x)

    # bar(x, min, max[, width=80]): unicode bar chart — full blocks plus
    # a floor-of-eighths partial block, a trailing space on an exact
    # block boundary below full width (probed: bar(3,0,10,10)='███ ',
    # bar(3.7,0,10,10)='███▋', bar(12,0,10,10) has no trailing space).
    # Out-of-range negatives diverge (DuckDB pads spaces) — documented.
    def bar_x(a):
        if len(a) not in (3, 4):
            return None
        x, mn, mx = a[0], a[1], a[2]
        width = a[3] if len(a) == 4 else "80"
        w = (
            f"least(greatest(CAST(({width}) AS DOUBLE) * (({x}) - ({mn}))"
            f" / (({mx}) - ({mn})), 0D), CAST(({width}) AS DOUBLE))"
        )
        full = f"CAST(floor({w}) AS INT)"
        rem = f"CAST(floor(({w} - floor({w})) * 8) AS INT)"
        return (
            f"concat(repeat('█', {full}), "
            f"CASE WHEN {full} >= CAST(({width}) AS INT) THEN '' "
            f"WHEN {rem} = 0 THEN ' ' "
            f"ELSE substr('▏▎▍▌▋▊▉', {rem}, 1) END)"
        )

    sql = _rewrite_calls(sql, "bar", bar_x)

    # json_group_array / json_group_object: DuckDB's JSON aggregates →
    # to_json over null-preserving collects (struct fields survive
    # aggregation; bare collect_list drops NULL elements). Duplicate
    # object keys raise here (Spark map dedup policy) where DuckDB
    # emits both — documented divergence.
    sql = _rewrite_calls(
        sql, "json_group_array",
        lambda a: (
            f"to_json(transform(collect_list(struct(({a[0]}) AS __v)), "
            f"__s -> __s.__v))"
        ) if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "json_group_object",
        lambda a: (
            f"to_json(map_from_entries(collect_list(struct("
            f"CAST({a[0]} AS STRING), ({a[1]})))))"
        ) if len(a) == 2 else None,
    )

    # first/last with an in-call ORDER BY → min_by/max_by (the value at
    # the smallest/largest key — ties arbitrary on both engines)
    def first_last_x(is_last):
        def x(a):
            if not a:
                return None
            # multi-key in-call ORDER BY splits on the arg commas
            # (batch 40) — rejoin and re-split around the keyword
            body = ", ".join(a)
            m = next(
                (
                    c
                    for c in re.finditer(
                        r"\bORDER\s+BY\b", body, re.IGNORECASE
                    )
                    if _depth_at(body, c.start()) == 0
                ),
                None,
            )
            if m is None:
                return None
            head = body[: m.start()].strip()
            if len(_split_top_level(head)) != 1:
                return None  # first() takes one value expression
            items = _split_top_level(body[m.end() :])
            if len(items) == 1:
                order = items[0].strip()
                om = re.fullmatch(
                    r"(.*?)\s*\b(ASC|DESC)\b\s*",
                    order,
                    re.IGNORECASE | re.DOTALL,
                )
                if om:
                    key, desc = (
                        om.group(1).strip(),
                        om.group(2).upper() == "DESC",
                    )
                else:
                    key, desc = order, False
                fn = "max_by" if (is_last != desc) else "min_by"
                return f"{fn}({head}, {key})"
            # multi-key: comparator-sorted collect, take first/last row's
            # value (NULLS LAST both directions — DuckDB's default)
            keys = []
            for item in items:
                item = item.strip()
                nm = re.search(
                    r"\s*\bNULLS\s+(FIRST|LAST)\s*$", item, re.IGNORECASE
                )
                nulls_first = False
                if nm:
                    nulls_first = nm.group(1).upper() == "FIRST"
                    item = item[: nm.start()].strip()
                am = re.search(r"\s*\b(ASC|DESC)\s*$", item, re.IGNORECASE)
                desc = False
                if am:
                    desc = am.group(1).upper() == "DESC"
                    item = item[: am.start()].strip()
                keys.append((item, desc, nulls_first))
            kfields = ", ".join(
                f"({k}) AS __k{j}" for j, (k, _, _) in enumerate(keys)
            )
            cmp_body = "0"
            for j in range(len(keys) - 1, -1, -1):
                _, desc, nulls_first = keys[j]
                a_null, b_null = (-1, 1) if nulls_first else (1, -1)
                lt, gt = (1, -1) if desc else (-1, 1)
                cmp_body = (
                    "CASE"
                    f" WHEN __a.__k{j} IS NULL AND __b.__k{j} IS NULL"
                    f" THEN {cmp_body}"
                    f" WHEN __a.__k{j} IS NULL THEN {a_null}"
                    f" WHEN __b.__k{j} IS NULL THEN {b_null}"
                    f" WHEN __a.__k{j} < __b.__k{j} THEN {lt}"
                    f" WHEN __a.__k{j} > __b.__k{j} THEN {gt}"
                    f" ELSE {cmp_body} END"
                )
            # try_element_at: Spark-native (1-based, -1 = last) and NOT
            # re-rewritten by the DuckDB element_at→map-list pass below
            pos = -1 if is_last else 1
            return (
                f"try_element_at(transform(array_sort("
                f"collect_list(struct({kfields}, ({head}) AS __v)), "
                f"(__a, __b) -> {cmp_body}), __p -> __p.__v), {pos})"
            )

        return x

    sql = _rewrite_calls(sql, "first", first_last_x(False))
    sql = _rewrite_calls(sql, "last", first_last_x(True))
    # arbitrary() is DuckDB's alias of first(); the plain (no ORDER BY)
    # form falls through to the arbitrary→first rename
    sql = _rewrite_calls(sql, "arbitrary", first_last_x(False))

    # array_agg / list: DuckDB keeps NULL elements (plain, DISTINCT —
    # where NULL is a distinct value — and ORDER BY forms alike;
    # reference users hit this via duckdb-backend.ts pass-through) while
    # Spark's array_agg/collect_list silently drop them. Lower every
    # 1-arg form through collect_list(struct(x AS __v)) — null FIELDS
    # survive aggregation — then unwrap with transform. Trailing FILTER
    # and OVER clauses must ride on the aggregate, not the transform
    # wrapper, so this is a custom scan (not _rewrite_calls) that
    # absorbs those suffixes into the replacement. In-call ORDER BY
    # sorts by key with DuckDB's NULLS-LAST-both-directions default via
    # an explicit comparator (array_sort+reverse would flip nulls
    # first); ties keep engine-specific order in both engines.
    def _lower_list_agg(args, filt, over):
        # a multi-key in-call ORDER BY splits on the arg commas
        # (``array_agg(x ORDER BY p, x)`` — batch 39): if the FIRST piece
        # carries a top-level ORDER BY, the commas belong to the sort
        # list — rejoin.
        if len(args) > 1:
            om0 = re.search(r"\bORDER\s+BY\b", args[0], re.IGNORECASE)
            if not (om0 and _depth_at(args[0], om0.start()) == 0):
                return None
            args = [", ".join(args)]
        body = args[0]
        m = re.search(r"\bORDER\s+BY\b", body, re.IGNORECASE)
        if m and _depth_at(body, m.start()) == 0:
            head = body[: m.start()].strip()
            order = body[m.end() :].strip()
        else:
            head, order = body.strip(), None
        dm = re.match(r"DISTINCT\s+(.*)$", head, re.IGNORECASE | re.DOTALL)
        expr = dm.group(1).strip() if dm else head
        if order is None:
            inner = f"collect_list(struct({expr} AS __v)){filt}{over}"
            if dm:
                inner = f"array_distinct({inner})"
            return f"transform({inner}, __s -> __s.__v)"
        keys = []  # (expr, desc, nulls_first) per sort item
        for item in _split_top_level(order):
            item = item.strip()
            nm = re.search(
                r"\s*\bNULLS\s+(FIRST|LAST)\s*$", item, re.IGNORECASE
            )
            nulls_first = False  # DuckDB default: NULLS LAST, both dirs
            if nm:
                nulls_first = nm.group(1).upper() == "FIRST"
                item = item[: nm.start()].strip()
            am = re.search(r"\s*\b(ASC|DESC)\s*$", item, re.IGNORECASE)
            desc = False
            if am:
                desc = am.group(1).upper() == "DESC"
                item = item[: am.start()].strip()
            keys.append((item, desc, nulls_first))
        if dm and (
            len(keys) != 1 or expr.lower() != keys[0][0].lower()
        ):
            return None  # DuckDB itself rejects this shape
        kfields = ", ".join(
            f"({k}) AS __k{j}" for j, (k, _, _) in enumerate(keys)
        )
        structs = (
            f"collect_list(struct({kfields}, ({expr}) AS __v)){filt}{over}"
        )
        if dm:
            structs = f"array_distinct({structs})"
        cmp_body = "0"
        for j in range(len(keys) - 1, -1, -1):
            _, desc, nulls_first = keys[j]
            a_null, b_null = (-1, 1) if nulls_first else (1, -1)
            lt, gt = (1, -1) if desc else (-1, 1)
            cmp_body = (
                "CASE"
                f" WHEN __a.__k{j} IS NULL AND __b.__k{j} IS NULL"
                f" THEN {cmp_body}"
                f" WHEN __a.__k{j} IS NULL THEN {a_null}"
                f" WHEN __b.__k{j} IS NULL THEN {b_null}"
                f" WHEN __a.__k{j} < __b.__k{j} THEN {lt}"
                f" WHEN __a.__k{j} > __b.__k{j} THEN {gt}"
                f" ELSE {cmp_body} END"
            )
        cmp = f"(__a, __b) -> {cmp_body}"
        return f"transform(array_sort({structs}, {cmp}), __p -> __p.__v)"

    def _list_agg_pass(sql: str, name: str) -> str:
        pat = re.compile(rf"(?<![\w.]){name}\s*\(", re.IGNORECASE)
        out, pos = [], 0
        while True:
            m = pat.search(sql, pos)
            if m is None:
                out.append(sql[pos:])
                return "".join(out)
            open_idx = m.end() - 1
            close_idx = _balanced_span(sql, open_idx)
            if close_idx == -1:
                out.append(sql[pos:])
                return "".join(out)
            args = [
                a.strip()
                for a in _split_top_level(sql[open_idx + 1 : close_idx])
            ]
            end = close_idx + 1
            filt = ""
            fm = re.match(r"\s+FILTER\s*\(", sql[end:], re.IGNORECASE)
            if fm:
                fclose = _balanced_span(sql, end + fm.end() - 1)
                if fclose != -1:
                    filt = " " + sql[end : fclose + 1].strip()
                    end = fclose + 1
            over = ""
            om = re.match(
                r"\s+OVER\s*(\w+|\()", sql[end:], re.IGNORECASE
            )
            if om:
                if om.group(1) == "(":
                    oclose = _balanced_span(sql, end + om.end() - 1)
                    if oclose != -1:
                        over = " " + sql[end : oclose + 1].strip()
                        end = oclose + 1
                else:
                    over = " " + sql[end : end + om.end()].strip()
                    end = end + om.end()
            repl = _lower_list_agg(args, filt, over)
            out.append(sql[pos : m.start()])
            if repl is None:
                out.append(sql[m.start() : close_idx + 1])
                pos = close_idx + 1
            else:
                out.append(repl)
                pos = end

    sql = _list_agg_pass(sql, "array_agg")
    sql = _list_agg_pass(sql, "list")

    # list_unique / array_unique: count of distinct non-null elements
    for _lu_name in ("list_unique", "array_unique"):
        sql = _rewrite_calls(
            sql,
            _lu_name,
            lambda a: (
                f"size(array_distinct(filter({a[0]}, __lu -> __lu IS NOT NULL)))"
                if len(a) == 1
                else None
            ),
        )

    # scalar range(…)/generate_series(…): range is end-EXCLUSIVE,
    # generate_series end-INCLUSIVE; BOTH return [] when the bounds are
    # inverted, while Spark's sequence flips to a DESCENDING list — an
    # unguarded rename returns [3,2,1] where DuckDB returns []. Every
    # form is guarded with an empty-array branch typed via a
    # zero-length slice of a one-element sequence. FROM-position forms
    # were already lowered to native table functions (\x00RANGE\x00).
    def _series_x(inclusive):
        tail = "" if inclusive else " - 1"
        ntail = "" if inclusive else " + 1"
        cmp_fwd = ">=" if inclusive else ">"
        cmp_rev = "<=" if inclusive else "<"

        def x(a):
            if len(a) == 1:
                a = ["0", a[0]]
            if len(a) == 2:
                lo, hi = a
                return (
                    f"CASE WHEN ({hi}) {cmp_fwd} ({lo}) THEN "
                    f"sequence({lo}, ({hi}){tail}) "
                    f"ELSE slice(sequence({lo}, {lo}), 1, 0) END"
                )
            if len(a) != 3:
                return None
            lo, hi, step = a
            s = step.strip()
            im = re.match(r"INTERVAL\b", s, re.IGNORECASE)
            if im and "-" not in s:
                ts = f"CAST({lo} AS TIMESTAMP)"
                te = f"CAST({hi} AS TIMESTAMP)"
                # Exclusive stop: back off ONE MICROSECOND (timestamp
                # resolution), not one full step — subtracting the step
                # silently dropped the last element whenever the span
                # was not a step-multiple. Guarded branch has te > ts,
                # so te - 1us >= ts always.
                stop = (
                    te
                    if inclusive
                    else f"{te} - INTERVAL 1 MICROSECOND"
                )
                return (
                    f"CASE WHEN {te} {cmp_fwd} {ts} THEN "
                    f"sequence({ts}, {stop}, {s}) "
                    f"ELSE slice(sequence({ts}, {ts}), 1, 0) END"
                )
            nm = re.fullmatch(r"-?\d+", s)
            if nm is None or s == "0":
                return None  # non-literal/zero step: loud failure
            if not s.startswith("-"):
                return (
                    f"CASE WHEN ({hi}) {cmp_fwd} ({lo}) THEN "
                    f"sequence({lo}, ({hi}){tail}, {s}) "
                    f"ELSE slice(sequence({lo}, {lo}), 1, 0) END"
                )
            return (
                f"CASE WHEN ({hi}) {cmp_rev} ({lo}) THEN "
                f"sequence({lo}, ({hi}){ntail}, {s}) "
                f"ELSE slice(sequence({lo}, {lo}), 1, 0) END"
            )

        return x

    sql = _rewrite_calls(sql, "range", _series_x(False))
    sql = _rewrite_calls(sql, "generate_series", _series_x(True))

    # DuckDB's map() ONLY takes (keys_list, values_list) — Spark's
    # variadic interleaved form keeps working for >2 args
    sql = _rewrite_calls(
        sql,
        "map",
        lambda a: f"map_from_arrays({a[0]}, {a[1]})" if len(a) == 2 else None,
    )

    def struct_extract_x(a):
        if len(a) != 2:
            return None
        m = re.fullmatch(r"\x00LIT(\d+)\x00", a[1])
        if m is None:
            # positional form struct_extract(s, N) (wave 47): only safe
            # when the base is an UNNAMED tuple — row()/struct() — whose
            # Spark field names are col1..colN by construction; named
            # structs would need the schema, so they stay loud
            if (
                re.fullmatch(r"[1-9]\d*", a[1])
                and re.match(r"(?:row|struct)\s*\(", a[0].strip(), re.IGNORECASE)
            ):
                return f"({a[0]}).col{a[1]}"
            return None
        return f"({a[0]}).{_lit_text(stash, m.group(1))}"

    sql = _rewrite_calls(sql, "struct_extract", struct_extract_x)

    # DuckDB map_extract returns a LIST ([] when the key is absent);
    # element_at is its MAP-ONLY alias in DuckDB (lists error there), so
    # both get the list-wrapping form — Spark's scalar element_at would
    # silently return the bare value
    for _map_fn in ("map_extract", "element_at"):
        sql = _rewrite_calls(
            sql,
            _map_fn,
            lambda a: (
                f"filter(array(try_element_at({a[0]}, {a[1]})), x -> x IS NOT NULL)"
                if len(a) == 2
                else None
            ),
        )

    # round-4 hunt batch 8: date-part derivations and interval makers
    # (century/decade/yearweek per the measured DuckDB values; the
    # to_* interval family: day-time widths onto make_dt_interval,
    # month-granularity ones onto make_ym_interval — exercised through
    # date arithmetic, where both engines agree calendar-wise)
    sql = _rewrite_calls(
        sql,
        "century",
        lambda a: f"CAST(ceil(year({a[0]}) / 100.0) AS BIGINT)"
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "decade",
        lambda a: f"CAST(floor(year({a[0]}) / 10.0) AS BIGINT)"
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql,
        "yearweek",
        lambda a: (
            f"CAST(extract(YEAROFWEEK FROM {a[0]}) * 100 "
            f"+ weekofyear({a[0]}) AS BIGINT)"
        )
        if len(a) == 1 else None,
    )
    # (epoch_ns is lowered once, below, with an explicit CAST AS
    # TIMESTAMP so DATE arguments resolve — a plain unix_micros(x)
    # registration here would consume every occurrence first.)
    sql = _rewrite_calls(
        sql, "to_weeks",
        lambda a: f"make_dt_interval(({a[0]}) * 7, 0, 0, 0)"
        if len(a) == 1 else None,
    )
    for _fn, _mul in (
        ("to_months", 1), ("to_years", 12), ("to_decades", 120),
        ("to_centuries", 1200), ("to_millennia", 12000)
    ):
        def _mkym(a, mul=_mul):
            if len(a) != 1:
                return None
            n = a[0] if mul == 1 else f"({a[0]}) * {mul}"
            return f"make_ym_interval(0, {n})"

        sql = _rewrite_calls(sql, _fn, _mkym)
    for _fn, _pos in (
        ("to_days", 0), ("to_hours", 1), ("to_minutes", 2), ("to_seconds", 3)
    ):
        def _mk(a, pos=_pos):
            if len(a) != 1:
                return None
            args = ["0"] * 4
            args[pos] = a[0]
            return f"make_dt_interval({', '.join(args)})"

        sql = _rewrite_calls(sql, _fn, _mk)

    # round-4 hunt batch 9
    sql = _rewrite_calls(  # geometric mean: exp of the log-mean
        sql, "geomean",
        lambda a: f"exp(avg(ln({a[0]})))" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(  # keep elements whose mask entry is true
        sql, "list_where",
        lambda a: (
            f"transform(filter(arrays_zip({a[0]}, {a[1]}), "
            f"__s -> __s['1']), __s -> __s['0'])"
        ) if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "array_pop_back",
        lambda a: f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"
        if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "array_pop_front",
        lambda a: f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"
        if len(a) == 1 else None,
    )

    def _nn(l):
        return f"filter({l}, __x -> __x IS NOT NULL)"

    sql = _rewrite_calls(  # list reducers ignore NULL elements (DuckDB)
        sql, "list_sum",
        lambda a: (
            f"aggregate({_nn(a[0])}, CAST(NULL AS DOUBLE), "
            f"(__a, __x) -> coalesce(__a, CAST(0 AS DOUBLE)) + __x)"
        ) if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "list_avg",
        lambda a: (
            f"(aggregate({_nn(a[0])}, CAST(NULL AS DOUBLE), "
            f"(__a, __x) -> coalesce(__a, CAST(0 AS DOUBLE)) + __x) "
            f"/ nullif(CAST(size({_nn(a[0])}) AS DOUBLE), 0.0))"
        ) if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "list_count",
        lambda a: f"size({_nn(a[0])})" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "list_first",
        lambda a: f"try_element_at({a[0]}, 1)" if len(a) == 1 else None,
    )
    sql = _rewrite_calls(
        sql, "list_last",
        lambda a: (
            f"(CASE WHEN size({a[0]}) = 0 THEN NULL "
            f"ELSE try_element_at({a[0]}, size({a[0]})) END)"
        ) if len(a) == 1 else None,
    )

    def list_median_x(a):
        if len(a) != 1:
            return None
        ms = f"array_sort({_nn(a[0])})"
        n = f"size({ms})"
        return (
            f"(CASE WHEN {n} = 0 THEN NULL "
            f"WHEN {n} % 2 = 1 THEN "
            f"CAST(try_element_at({ms}, CAST(({n} + 1) div 2 AS INT)) "
            f"AS DOUBLE) "
            f"ELSE (CAST(try_element_at({ms}, CAST({n} div 2 AS INT)) "
            f"AS DOUBLE) "
            f"+ try_element_at({ms}, CAST({n} div 2 + 1 AS INT))) / 2 END)"
        )

    def mad_x(a):
        # DuckDB mad(x) = median(|x - median(x)|), numeric args —
        # parity path, not hot path. Lambda vars act as let-bindings
        # (transform over a 1-element array) so the collect_list
        # aggregate appears exactly ONCE: a textual expansion repeating
        # it ~20× was measured to hang Spark 4.1's analyzer. The median
        # of a sorted array s is elem((n+1)÷2)/elem((n+2)÷2) averaged —
        # one formula for both parities.
        if len(a) != 1:
            return None

        def med(v):
            return (
                f"((try_element_at({v}, CAST((size({v}) + 1) div 2 AS INT))"
                f" + try_element_at({v}, CAST((size({v}) + 2) div 2 AS INT))"
                f") / 2.0)"
            )

        src = (
            f"array_sort(filter(collect_list(CAST({a[0]} AS DOUBLE)), "
            f"__x -> __x IS NOT NULL))"
        )
        devs = f"array_sort(transform(__s, __v -> abs(__v - {med('__s')})))"
        body = (
            f"CASE WHEN size(__s) = 0 THEN CAST(NULL AS DOUBLE) "
            f"ELSE try_element_at(transform(array({devs}), "
            f"__t -> {med('__t')}), 1) END"
        )
        return f"try_element_at(transform(array({src}), __s -> {body}), 1)"

    sql = _rewrite_calls(sql, "mad", _strip_agg_order("mad", mad_x))
    sql = _rewrite_calls(sql, "list_median", list_median_x)

    # ---- round-7 hunt batch 13 ------------------------------------
    # make_timestamp(µs) single-arg form (6-arg form is Spark-native)
    sql = _rewrite_calls(
        sql, "make_timestamp",
        lambda a: f"timestamp_micros({a[0]})" if len(a) == 1 else None,
    )
    # timezone(tz, ts): instant of naive ts interpreted in tz, shown in
    # the (UTC) session zone — Spark's to_utc_timestamp with args swapped
    sql = _rewrite_calls(
        sql, "timezone",
        lambda a: f"to_utc_timestamp({a[1]}, {a[0]})" if len(a) == 2 else None,
    )
    sql = _rewrite_calls(
        sql, "epoch_ns",
        lambda a: f"(unix_micros(CAST({a[0]} AS TIMESTAMP)) * 1000)"
        if len(a) == 1 else None,
    )

    # epoch_ms/epoch_us are overloaded in DuckDB: temporal → count, and
    # BIGINT → TIMESTAMP (the inverse). Bare integer literals take the
    # inverse form; everything else gets CAST AS TIMESTAMP so DATE
    # arguments resolve (unix_millis/micros are TIMESTAMP-only).
    def _epoch_conv(spark_fn: str, inverse_fn: str):
        def x(a):
            if len(a) != 1:
                return None
            arg = a[0].strip()
            if re.fullmatch(r"[-+]?\d+", arg):
                return f"{inverse_fn}({arg})"
            return f"{spark_fn}(CAST({arg} AS TIMESTAMP))"

        return x

    sql = _rewrite_calls(
        sql, "epoch_ms", _epoch_conv("unix_millis", "timestamp_millis")
    )
    sql = _rewrite_calls(
        sql, "epoch_us", _epoch_conv("unix_micros", "timestamp_micros")
    )
    # IEEE-754 step via the JVM (no Spark builtin)
    sql = _rewrite_calls(
        sql, "nextafter",
        lambda a: (
            "CAST(reflect('java.lang.Math', 'nextAfter', "
            f"CAST({a[0]} AS DOUBLE), CAST({a[1]} AS DOUBLE)) AS DOUBLE)"
        ) if len(a) == 2 else None,
    )
    # list_contains/array_contains: DuckDB returns FALSE (not NULL) when
    # the probe is absent from a list that contains NULLs; NULL only for
    # NULL inputs (probed: list_contains([NULL,3], 7) IS FALSE)
    def list_contains_x(a):
        if len(a) != 2:
            return None
        return (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE coalesce(array_position({a[0]}, {a[1]}) > 0, false) END)"
        )

    sql = _rewrite_calls(sql, "list_contains", list_contains_x)
    sql = _rewrite_calls(sql, "array_contains", list_contains_x)
    # list_has_any: NULL elements never match (arrays_overlap would
    # return NULL); list_has_all ignores NULLs in the needle entirely
    # (probed: list_has_all([1,NULL],[NULL]) IS TRUE)
    sql = _rewrite_calls(
        sql, "list_has_any",
        lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE coalesce(arrays_overlap({a[0]}, {a[1]}), false) END)"
        ) if len(a) == 2 else None,
    )
    # list_distinct drops NULL elements in DuckDB (result order is
    # engine-arbitrary in BOTH engines — callers sort)
    sql = _rewrite_calls(
        sql, "list_distinct",
        lambda a: (
            f"array_distinct(filter({a[0]}, __ld -> __ld IS NOT NULL))"
        ) if len(a) == 1 else None,
    )
    # any_value with an ORDER BY modifier → min_by/max_by (single sort
    # key; first/last get the same lowering earlier in this function).
    # Plain any_value(x) (wave 47): DuckDB skips NULLs (first NON-NULL
    # value); Spark's default any_value respects them — any_value of
    # (NULL, 3, 4) silently returned NULL. Spark's 2-arg ignoreNulls
    # form matches.
    def any_value_x(a):
        if len(a) != 1:
            return None
        if not re.search(r"\bORDER\s+BY\b", a[0], re.IGNORECASE):
            return f"any_value({a[0]}, true)"
        m = re.match(
            r"(?s)(.*?)\s+ORDER\s+BY\s+(.+?)\s*(ASC|DESC)?\s*$",
            a[0],
            re.IGNORECASE,
        )
        if m is None:
            return None
        val, key, direction = m.group(1), m.group(2), m.group(3)
        if re.search(r"\bNULLS\b|,", key, re.IGNORECASE):
            return None  # multi-key / NULLS order: stay unresolved
        fn = "max_by" if (direction or "ASC").upper() == "DESC" else "min_by"
        # DuckDB's any_value(x ORDER BY y) returns the first NON-NULL x
        # in y order; min_by/max_by would return a NULL x sitting at the
        # extreme key. Null the key for NULL values so those rows can
        # never win (min_by ignores NULL-key rows).
        return (
            f"{fn}({val}, CASE WHEN ({val}) IS NULL "
            f"THEN NULL ELSE ({key}) END)"
        )

    sql = _rewrite_calls(sql, "any_value", any_value_x)

    # struct_insert: append fields to a struct. Literal structs merge
    # textually; column references splat via struct(col.*, …)
    def struct_insert_x(a):
        if len(a) < 2:
            return None
        extra = []
        for item in a[1:]:
            k, sep, v = item.partition(":=")
            if not sep:
                return None
            extra.append((k.strip(), v.strip()))
        base = a[0].strip()
        m = re.fullmatch(r"named_struct\s*\((.*)\)", base, re.DOTALL)
        if m is not None:
            pairs = ", ".join(f"'{k}', {v}" for k, v in extra)
            inner = m.group(1).strip()
            return (
                f"named_struct({inner}, {pairs})"
                if inner
                else f"named_struct({pairs})"
            )
        if re.fullmatch(r"[A-Za-z_][\w.]*", base):
            fields = ", ".join(f"{v} AS {k}" for k, v in extra)
            return f"struct({base}.*, {fields})"
        return None

    sql = _rewrite_calls(sql, "struct_insert", struct_insert_x)

    # ---- round-7 hunt batch 19 ------------------------------------
    # split_part index 0 is '' in DuckDB (Spark raises)
    def split_part_x(a):
        if len(a) == 3 and a[2].strip() == "0":
            return _stash_add(stash, "''")
        return None

    sql = _rewrite_calls(sql, "split_part", split_part_x)

    # literal regex flags ('i','s','m','x'; 'c' default, 'g' replace-
    # only) fold into a (?ism) prefix on LITERAL patterns — Spark's
    # regexp fns have no flags argument
    def _fold_flags(pat_ph, flags_ph):
        fm = re.fullmatch(r"\x00LIT(\d+)\x00", flags_ph.strip())
        pm = re.fullmatch(r"\x00LIT(\d+)\x00", pat_ph.strip())
        if fm is None or pm is None:
            return None
        flags = _lit_text(stash, fm.group(1))
        if not re.fullmatch(r"[ismxcg]*", flags):
            return None
        keep = "".join(c for c in "ismx" if c in flags)
        pat = _lit_text(stash, pm.group(1))
        if keep:
            pat = f"(?{keep}){pat}"
        return _stash_add(stash, "'" + pat.replace("'", "''") + "'")

    def regexp_flags_x(fn, nargs_flags):
        def x(a):
            if len(a) != nargs_flags:
                return None
            ph = _fold_flags(a[1], a[-1])
            if ph is None:
                return None
            return f"{fn}({', '.join([a[0], ph, *a[2:-1]])})"

        return x

    for _fn, _nargs in (
        ("regexp_matches", 3), ("regexp_like", 3),
        ("regexp_extract", 4), ("regexp_extract_all", 4),
    ):
        sql = _rewrite_calls(sql, _fn, regexp_flags_x(_fn, _nargs))

    # unnest(STRUCT) emits one column per field — Spark's inline over a
    # one-element array does exactly that. unnest(x, recursive := true):
    # DuckDB fully flattens nested lists; one flatten level covers the
    # list<list<T>> case (deeper nesting or struct spreading stays loud)
    def unnest_x(a):
        if len(a) == 1 and re.match(
            r"named_struct\s*\(", a[0].strip(), re.IGNORECASE
        ):
            return f"inline(array({a[0]}))"
        if len(a) == 2 and re.fullmatch(
            r"recursive\s*:=\s*true", a[1].strip(), re.IGNORECASE
        ):
            return f"explode(flatten({a[0]}))"
        return None

    sql = _rewrite_calls(sql, "unnest", unnest_x)
    # generate_subscripts(arr, 1): one row per 1-based index
    sql = _rewrite_calls(
        sql, "generate_subscripts",
        lambda a: (
            f"explode(sequence(1, size({a[0]})))"
            if len(a) == 2 and a[1].strip() == "1"
            else None
        ),
    )
    # regexp_full_match(s, p): DuckDB's named form of the ~ operator —
    # anchor literal patterns in the stash; non-literal via concat
    def full_match_x(a):
        if len(a) != 2:
            return None
        lm = re.fullmatch(r"\x00LIT(\d+)\x00", a[1])
        if lm is not None and stash is not None:
            pat = stash[int(lm.group(1))][1:-1]
            ph = _stash_add(stash, f"'^(?:{pat})$'")
            return f"regexp_like({a[0]}, {ph})"
        return f"regexp_like({a[0]}, concat('^(?:', {a[1]}, ')$'))"

    sql = _rewrite_calls(sql, "regexp_full_match", full_match_x)

    # typeof(x): map Spark's lowercase type names onto DuckDB's
    # spellings for the scalar types (batch 26); the upper() fallback
    # keeps DECIMAL(p,s) exact and leaves exotic nested renders loud
    # rather than silently wrong
    _TYPEOF_MAP = (
        ("int", "INTEGER"), ("string", "VARCHAR"), ("bigint", "BIGINT"),
        ("smallint", "SMALLINT"), ("tinyint", "TINYINT"),
        ("float", "FLOAT"), ("double", "DOUBLE"),
        ("boolean", "BOOLEAN"), ("date", "DATE"), ("binary", "BLOB"),
        ("void", '"NULL"'), ("timestamp", "TIMESTAMP"),
        ("timestamp_ntz", "TIMESTAMP"),
    )

    def typeof_x(a):
        if len(a) != 1 or stash is None:
            return None
        pairs = ", ".join(
            f"{_stash_add(stash, repr(k))}, {_stash_add(stash, repr(v))}"
            for k, v in _TYPEOF_MAP
        )
        return (
            f"coalesce(element_at(map({pairs}), typeof({a[0]})), "
            f"upper(typeof({a[0]})))"
        )

    sql = _rewrite_calls(sql, "typeof", typeof_x)
    # bitstring(s, n): zero-pad the bit string to width n
    sql = _rewrite_calls(
        sql, "bitstring",
        lambda a: f"lpad({a[0]}, {a[1]}, '0')" if len(a) == 2 else None,
    )


    return sql


# DuckDB/Postgres type spellings Spark's CAST doesn't accept, mapped per
# SURVEY §1.3 (unsigned → widened; HUGEINT → DECIMAL(38,0); bare VARCHAR
# needs no length on DuckDB but does on Spark → STRING).
_CAST_TYPE_MAP = {
    "TEXT": "STRING", "VARCHAR": "STRING", "CHAR": "STRING",
    "BPCHAR": "STRING", "LOGICAL": "BOOLEAN", "BOOL": "BOOLEAN",
    "BLOB": "BINARY", "BYTEA": "BINARY", "VARBINARY": "BINARY",
    "INT1": "TINYINT", "INT2": "SMALLINT", "INT4": "INTEGER",
    "INT8": "BIGINT", "SIGNED": "INTEGER",
    "FLOAT4": "FLOAT", "FLOAT8": "DOUBLE",
    "UTINYINT": "SMALLINT", "USMALLINT": "INTEGER",
    "UINTEGER": "BIGINT", "UBIGINT": "DECIMAL(20,0)",
    "HUGEINT": "DECIMAL(38,0)", "UHUGEINT": "DECIMAL(38,0)",
    "OID": "BIGINT",
    # bare DECIMAL/NUMERIC: DuckDB defaults to DECIMAL(18,3) where
    # Spark's bare spelling means DECIMAL(10,0) — '4.5'::DECIMAL would
    # silently round to 5 (wave 42)
    "DECIMAL": "DECIMAL(18,3)", "NUMERIC": "DECIMAL(18,3)",
    "DATETIME": "TIMESTAMP", "TIMESTAMPTZ": "TIMESTAMP",
    "TIMESTAMP_S": "TIMESTAMP", "TIMESTAMP_MS": "TIMESTAMP",
    "TIMESTAMP_NS": "TIMESTAMP",
    # DuckDB's JSON type is a validated string; the engine keeps JSON
    # values as strings throughout (the '->' family operates on them)
    "JSON": "STRING",
}

_TS_LITERAL_PREFIX = re.compile(
    r"\b(TIMESTAMPTZ|DATETIME|TIMESTAMP_S|TIMESTAMP_MS|TIMESTAMP_NS)"
    r"(\s+\x00LIT\d+\x00)",
    re.IGNORECASE,
)


def rewrite_timestamp_literals(sql: str) -> str:
    """DuckDB's extra timestamp literal prefixes (``TIMESTAMPTZ '…'``,
    ``DATETIME '…'``, unit-suffixed ``TIMESTAMP_S``) → plain
    ``TIMESTAMP`` literals (Spark's TIMESTAMP is micros, session-tz,
    and its literal parser accepts explicit offsets)."""
    return _TS_LITERAL_PREFIX.sub(r"TIMESTAMP\2", sql)


def _xlate_cast_type(t: str) -> str | None:
    """Recursive DuckDB→Spark type-spelling translation for composite
    CAST targets: ``T[]`` → ARRAY<T>, ``STRUCT(a T, …)`` →
    STRUCT<a: T, …>, ``MAP(K, V)`` → MAP<K, V>, base names via
    _CAST_TYPE_MAP. None = not a recognizable type (leave untouched)."""
    t = t.strip()
    m = re.fullmatch(r"(.+?)\s*\[\s*\]", t, re.DOTALL)
    if m:
        inner = _xlate_cast_type(m.group(1))
        return f"ARRAY<{inner}>" if inner else None
    m = re.fullmatch(r"STRUCT\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
    if m:
        parts = []
        for f in _split_top_level(m.group(1)):
            fm = re.match(r'\s*("[^"]+"|\x00IDQ\d+\x00|[A-Za-z_]\w*)\s+(.+?)\s*$', f, re.DOTALL)
            ft = _xlate_cast_type(fm.group(2)) if fm else None
            if ft is None:
                return None
            parts.append(f"{fm.group(1)}: {ft}")
        return f"STRUCT<{', '.join(parts)}>" if parts else None
    m = re.fullmatch(r"MAP\s*\((.*)\)", t, re.IGNORECASE | re.DOTALL)
    if m:
        kv = _split_top_level(m.group(1))
        if len(kv) != 2:
            return None
        k, v = _xlate_cast_type(kv[0]), _xlate_cast_type(kv[1])
        return f"MAP<{k}, {v}>" if k and v else None
    if re.fullmatch(r"DECIMAL\s*\(\s*\d+\s*,\s*\d+\s*\)", t, re.IGNORECASE):
        return t
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t):
        return _CAST_TYPE_MAP.get(t.upper(), t)
    return None


def rewrite_cast_type_names(sql: str) -> str:
    """Map DuckDB type spellings inside ``CAST``/``TRY_CAST`` to Spark's
    (``CAST(x AS TEXT)`` → ``AS STRING``, unsigned widening, composite
    ``T[]``/``STRUCT(…)``/``MAP(K,V)`` shapes → Spark's angle-bracket
    spellings). Only the trailing top-level ``AS <type>`` of a cast is
    touched, so a column alias that happens to be a type name
    (``SELECT 1 AS text``) is never rewritten. ``::TYPE`` forms are
    already CASTs by the time this runs (rewrite_pg_cast)."""

    def make_xform(fn_name: str):
        def xform(args):
            if len(args) != 1:
                return None
            inner = rewrite_cast_type_names(args[0])
            last = None
            for m in re.finditer(r"\bAS\b", inner, re.IGNORECASE):
                if _depth_at(inner, m.start()) == 0:
                    last = m
            if last is None:
                if inner == args[0]:
                    return None
                return f"{fn_name}({inner})"
            mapped = _xlate_cast_type(inner[last.end() :])
            if mapped is None:
                if inner == args[0]:
                    return None
                return f"{fn_name}({inner})"
            return f"{fn_name}({inner[: last.end()]} {mapped})"

        return xform

    sql = _rewrite_calls(sql, "CAST", make_xform("CAST"))
    return _rewrite_calls(sql, "TRY_CAST", make_xform("TRY_CAST"))


def rewrite_ignore_nulls(sql: str) -> str:
    """DuckDB puts the null-handling modifier INSIDE the call —
    ``last_value(y IGNORE NULLS)`` — Spark wants it after:
    ``last_value(y) IGNORE NULLS``. Move it across the closing paren,
    but only when that paren closes a *function call* (its opener is
    preceded by an identifier) — an aggregate-level ``IGNORE NULLS`` at
    the end of a parenthesized subquery must stay inside."""
    pat = re.compile(r"\s+(IGNORE|RESPECT)\s+NULLS\s*\)", re.IGNORECASE)
    while True:
        for m in pat.finditer(sql):
            close = m.end() - 1
            # find the matching opener of this close paren
            depth = 0
            open_idx = -1
            for i in range(close, -1, -1):
                if sql[i] == ")":
                    depth += 1
                elif sql[i] == "(":
                    depth -= 1
                    if depth == 0:
                        open_idx = i
                        break
            if open_idx <= 0:
                continue
            j = open_idx - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j < 0 or not (sql[j].isalnum() or sql[j] == "_"):
                continue  # subquery / grouping parens — leave in place
            if re.match(r"\s*SELECT\b", sql[open_idx + 1 :], re.IGNORECASE):
                continue  # parenthesized subquery — leave in place
            sql = (
                sql[: m.start()] + ") " + m.group(1) + " NULLS" + sql[m.end() :]
            )
            break
        else:
            return sql


def rewrite_list_comprehension(sql: str) -> str:
    """DuckDB list comprehensions: ``[expr FOR var IN list [IF cond]]`` →
    ``transform([filter(]list, var -> cond[)], var -> expr)`` — Spark's
    higher-order functions have exactly these semantics (lazy, per-row,
    codegen'd — no UDF). Nested comprehensions recurse. Runs on
    literal-protected text, before ``[…]`` literals become array()."""

    def split_top(body: str, word: str) -> tuple[str, str] | None:
        for m in re.finditer(rf"\b{word}\b", body, re.IGNORECASE):
            if _depth_at(body, m.start()) == 0:
                return body[: m.start()], body[m.end() :]
        return None

    out, i = [], 0
    while i < len(sql):
        if sql[i] == "[":
            end = _balanced_span(sql, i, "[", "]")
            if end != -1:
                inner = rewrite_list_comprehension(sql[i + 1 : end])
                parts = split_top(inner, "FOR")
                if parts is not None:
                    expr, rest = parts
                    in_parts = split_top(rest, "IN")
                    if in_parts is not None:
                        var, src = in_parts
                        var = var.strip()
                        if_parts = split_top(src, "IF")
                        if if_parts is not None:
                            src, cond = if_parts
                            src = (
                                f"filter({src.strip()}, "
                                f"{var} -> {cond.strip()})"
                            )
                        else:
                            src = src.strip()
                        out.append(
                            f"transform({src}, {var} -> {expr.strip()})"
                        )
                        i = end + 1
                        continue
                out.append("[" + inner + "]")
                i = end + 1
                continue
        out.append(sql[i])
        i += 1
    return "".join(out)


_WINDOW_EXCLUDE = re.compile(
    r"\b(sum|count|avg|min|max)\s*\(\s*([^()]*?)\s*\)\s+OVER\s+\(([^()]*?)\s*"
    r"EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)",
    re.IGNORECASE,
)

_WINDOW_BODY = re.compile(
    r"^\s*(?:PARTITION\s+BY\s+(?P<part>.*?))?\s*"
    r"(?:ORDER\s+BY\s+(?P<order>.*?))?\s*"
    r"(?P<frame>(?:ROWS|RANGE|GROUPS)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)


def _peer_partition(body: str) -> str | None:
    """PARTITION BY clause text for the current row's PEER GROUP (the
    partition keys plus the ORDER BY expressions with direction/null
    tokens stripped), or None when the body shape is out of scope:
    - no ORDER BY (every partition row is a peer — rare; stays loud)
    - a ROWS/GROUPS frame (row-offset boundaries are NOT peer-aligned,
      so the peer group may extend past the frame and subtracting the
      whole group would over-subtract). RANGE frames and the default
      frame ARE peer-aligned: any RANGE frame containing the current
      row contains its entire peer group, making the subtraction exact.
    """
    m = _WINDOW_BODY.match(body)
    if not m or not m.group("order"):
        return None
    frame = (m.group("frame") or "").strip()
    if frame:
        # Only RANGE frames that provably CONTAIN the current row: start
        # on the preceding-or-current side AND end on the
        # current-or-following side. A one-sided RANGE frame (BETWEEN 5
        # PRECEDING AND 2 PRECEDING) excludes the peer group already —
        # subtracting it would over-subtract, so that stays loud.
        ok = re.fullmatch(
            r"RANGE\s+BETWEEN\s+"
            r"(?:UNBOUNDED\s+PRECEDING|\S+\s+PRECEDING|CURRENT\s+ROW)"
            r"\s+AND\s+"
            r"(?:UNBOUNDED\s+FOLLOWING|\S+\s+FOLLOWING|CURRENT\s+ROW)"
            r"|RANGE\s+(?:UNBOUNDED\s+PRECEDING|\S+\s+PRECEDING"
            r"|CURRENT\s+ROW)",
            frame,
            re.IGNORECASE,
        )
        if not ok:
            return None
    keys = []
    if m.group("part"):
        keys.extend(k.strip() for k in _split_top_level(m.group("part")))
    for k in _split_top_level(m.group("order")):
        k = re.sub(
            r"\s+(ASC|DESC)\b", "", k.strip(), flags=re.IGNORECASE
        )
        k = re.sub(
            r"\s+NULLS\s+(FIRST|LAST)\b", "", k, flags=re.IGNORECASE
        )
        keys.append(k.strip())
    return "PARTITION BY " + ", ".join(k for k in keys if k)


_WINDOW_DISTINCT = re.compile(
    r"\b(sum|count|avg|min|max)\s*\(\s*DISTINCT\s+([^()]*?)\s*\)"
    r"\s+OVER\s+\(([^()]*?)\)",
    re.IGNORECASE,
)


def rewrite_window_distinct(
    sql: str, integral_columns: set[str] | None = None
) -> str:
    """``agg(DISTINCT e) OVER (…)`` — Spark rejects DISTINCT in window
    aggregates. min/max(DISTINCT) ≡ min/max. For sum/count/avg, mark
    each value's FIRST occurrence (row_number over the partition keys +
    the value, ordered by the window's order) and aggregate only marked
    rows: the marked row is in the frame whenever the frame is a
    peer-aligned PREFIX (default, RANGE UNBOUNDED PRECEDING … CURRENT
    ROW / UNBOUNDED FOLLOWING) or the whole partition — verified
    against DuckDB for running distinct sums/counts including tied
    order keys. Sliding and ROWS-prefix frames (a value's first
    occurrence can fall off the frame edge, so marking is unsound)
    take a collect/array_distinct/fold path instead — O(frame) per
    row; see the inline comment. GROUPS frames and EXCLUDE tails on
    DISTINCT aggs stay loud."""

    def sub(m: re.Match) -> str:
        fn, e, body = m.group(1).lower(), m.group(2).strip(), m.group(3)
        if re.search(r"\bEXCLUDE\b", body, re.IGNORECASE):
            # EXCLUDE anywhere in the window body (even frameless, where
            # it would otherwise be swallowed into the ORDER BY keys) is
            # rewrite_minmax_exclude's job — its regex handles the
            # DISTINCT form itself (ADVICE r9).
            return m.group(0)
        if fn in ("min", "max"):
            return f"{fn}({e}) OVER ({body.strip()})"
        if e == "*":
            return m.group(0)
        bm = _WINDOW_BODY.match(body)
        if not bm:
            return m.group(0)
        part, order = bm.group("part"), bm.group("order")
        frame = (bm.group("frame") or "").strip()
        whole = re.fullmatch(
            r"(?:ROWS|RANGE)\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+"
            r"UNBOUNDED\s+FOLLOWING",
            frame,
            re.IGNORECASE,
        )
        prefix = re.fullmatch(
            r"RANGE\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+"
            r"(?:CURRENT\s+ROW|UNBOUNDED\s+FOLLOWING)"
            r"|RANGE\s+UNBOUNDED\s+PRECEDING",
            frame,
            re.IGNORECASE,
        )
        if frame and not (whole or (order and prefix)):
            # Sliding / ROWS-prefix frames (round 6): a value's first
            # occurrence can fall off the frame edge, so first-
            # occurrence marking is unsound — instead collect the
            # frame's values (collect_list skips NULLs, matching
            # DISTINCT-agg null handling), dedupe with array_distinct,
            # and fold. O(frame) per row — the engine-native cost of a
            # distinct frame aggregate. sum/avg accumulate in DOUBLE
            # (element type is unknown at transpile time; exact to
            # 2^53 — cast the argument if integral exactness beyond
            # that matters). EXCLUDE tails and GROUPS frames fall
            # through loud.
            if re.search(
                r"\bGROUPS\b|\bEXCLUDE\b", frame, re.IGNORECASE
            ):
                return m.group(0)
            arr = (
                f"array_distinct(collect_list({e}) OVER ({body.strip()}))"
            )
            if fn == "count":
                return f"CAST(coalesce(size({arr}), 0) AS BIGINT)"
            # a bare INTEGRAL column (schema known to the caller) folds
            # in DECIMAL(38,0) — exact past 2^53 where the DOUBLE
            # accumulator silently loses integer exactness (ADVICE r6);
            # non-integral / unresolvable expressions keep DOUBLE
            # (a decimal accumulator is an analysis-time type error for
            # double elements, and float inputs WANT float semantics)
            acc = "DOUBLE"
            if integral_columns and re.fullmatch(
                r"[A-Za-z_][A-Za-z0-9_]*", e
            ) and e in integral_columns:
                acc = "DECIMAL(38,0)"
            ssum = (
                f"aggregate({arr}, CAST(NULL AS {acc}), "
                f"(s, x) -> coalesce(s, CAST(0 AS {acc})) + x)"
            )
            if fn == "sum":
                return f"({ssum})"
            if acc == "DOUBLE":
                return f"(({ssum}) / size({arr}))"
            # DuckDB avg(DISTINCT int) is DOUBLE of the exact sum
            return f"CAST(({ssum}) / size({arr}) AS DOUBLE)"
        mark_part = ([part.strip()] if part else []) + [f"({e})"]
        mark = (
            f"row_number() OVER (PARTITION BY {', '.join(mark_part)} "
            f"ORDER BY {order.strip() if order else f'({e})'}) = 1"
        )
        return (
            f"{fn}(CASE WHEN {mark} THEN ({e}) END) OVER ({body.strip()})"
        )

    return _WINDOW_DISTINCT.sub(sub, sql)


_MINMAX_EXCLUDE = re.compile(
    r"\b(min|max|sum|count|avg)\s*\(\s*(DISTINCT\s+)?([^()]*?)\s*\)"
    r"\s+OVER\s+\(([^()]*?)\s*"
    r"EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)",
    re.IGNORECASE,
)

_FRAME_LO = re.compile(
    r"RANGE\s+(?:BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND\s+CURRENT\s+ROW"
    r"|UNBOUNDED\s+PRECEDING)\s*$",
    re.IGNORECASE,
)
_FRAME_HI = re.compile(
    r"RANGE\s+BETWEEN\s+CURRENT\s+ROW\s+AND\s+UNBOUNDED\s+FOLLOWING\s*$",
    re.IGNORECASE,
)
_FRAME_FULL = re.compile(
    r"RANGE\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND"
    r"\s+UNBOUNDED\s+FOLLOWING\s*$",
    re.IGNORECASE,
)


def _top_level_find(sql: str, pattern: str, start: int = 0) -> int:
    """Position of the first depth-0 match of ``pattern``, or -1."""
    for m in re.finditer(pattern, sql, re.IGNORECASE):
        if m.start() >= start and _depth_at(sql, m.start()) == 0:
            return m.start()
    return -1


def rewrite_minmax_exclude(
    sql: str, integral_columns: set[str] | None = None
) -> str:
    """``min/max(e) OVER (w EXCLUDE GROUP|TIES|CURRENT ROW)`` — plus
    (r9) the frame/DISTINCT combinations the ALGEBRAIC pass can't do:
    ``sum/count/avg(e) OVER (sliding-ROWS frame EXCLUDE GROUP|TIES)``
    (the peer group may extend past a row-offset frame, so subtracting
    a peer-window sum over-subtracts — these take the same collect/
    filter general path as sliding min/max) and ``sum/count/avg(
    DISTINCT e) OVER (… EXCLUDE …)`` (first-occurrence marking is
    unsound under exclusion — collect, filter the excluded region,
    array_distinct, fold). Shapes rewrite_window_exclude already
    handles exactly (peer-aligned frames, EXCLUDE CURRENT ROW, plain
    NO OTHERS — all without DISTINCT) are skipped here and left to it.

    Unlike sum/count/avg, min/max are not algebraically removable (you
    can't subtract the excluded rows' contribution), and the exact
    answer — combine one-sided mins split around the peer group — needs
    window functions OVER window results, which SQL forbids in one
    SELECT. So this rewrite RESTRUCTURES the statement into two levels:

      inner:  SELECT *, e, row_number/rank/peer-count over w,
                     fn(e) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND
                                 1 PRECEDING)        AS lo   [and/or]
                     fn(e) OVER (w ROWS 1 FOLLOWING …) AS hi
      outer:  fn(CASE WHEN rn = rk           THEN lo END) OVER (peers)
              fn(CASE WHEN rn = rk + pc - 1  THEN hi END) OVER (peers)

    The ROWS helper is only consumed at the FIRST (resp. LAST) row of
    each peer group, where "rows before me" is exactly "rows strictly
    below my key" — deterministic even though intra-peer order isn't.
    Modes: GROUP = the one-sided (or both-sided for full frames) group
    min; TIES = least/greatest(GROUP, current e); CURRENT ROW = GROUP
    combined with the peers-minus-self split ordered by the unique rn.

    Peer-aligned frames ([UNBOUNDED PRECEDING, CURRENT ROW],
    [CURRENT ROW, UNBOUNDED FOLLOWING], full partition) take the O(1)
    helper-window path above. Any OTHER explicit ROWS/RANGE frame
    (two-sided sliding, bounded one-sided, frames not containing the
    current row) takes a general path: collect the frame's rows as
    (value, order-key, row_number) structs and drop the excluded region
    with an array filter — O(frame) per row, the engine's own cost for
    frame exclusion. Scope (anything else stays loud): single SELECT
    without WITH / GROUP BY / set ops / star projection, calls at paren
    depth 0; GROUPS frames have no Spark equivalent."""
    matches = list(_MINMAX_EXCLUDE.finditer(sql))
    if not matches:
        return sql
    head = re.match(r"\s*SELECT\s+(DISTINCT\s+)?", sql, re.IGNORECASE)
    if head is None:
        return sql
    # calls may sit inside scalar expressions (coalesce(min(...) OVER …))
    # but not inside a nested SUBQUERY — a second SELECT before the call
    # means another scope owns it, and this statement-level restructure
    # would mis-place the helpers.
    if any(
        re.search(r"\bSELECT\b", sql[head.end() : m.start()], re.IGNORECASE)
        for m in matches
    ):
        return sql
    for kw in (r"\bGROUP\s+BY\b", r"\bHAVING\b", r"\bQUALIFY\b",
               r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b",
               r"\bWITH\b"):
        if _top_level_find(sql, kw) != -1:
            return sql
    from_pos = _top_level_find(sql, r"\bFROM\b")
    if from_pos == -1 or from_pos < matches[0].start():
        return sql
    sel = sql[head.end() : from_pos]
    # A star PROJECTION ITEM (`*`, `t.*`, `* EXCEPT (…)`) would leak the
    # helper columns — but a `*` elsewhere in the select list is just
    # multiplication (`max(x * 3)`), which is fine. Round-6 regression:
    # an any-`*`-anywhere regex bailed on arithmetic and let EXCLUDE
    # leak to Spark's parser (q74).
    for item in _split_top_level(re.sub(r"\x00LIT\d+\x00", "", sel)):
        if re.match(
            r"(?:[A-Za-z_][A-Za-z0-9_]*\s*\.\s*)?\*", item.strip()
        ):
            return sql
    rest = sql[from_pos + 4 :]
    tail_pos = _top_level_find(rest, r"\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b")
    src, tail = (
        (rest, "") if tail_pos == -1 else (rest[:tail_pos], rest[tail_pos:])
    )

    helpers: list[str] = []
    new_sel = sel
    processed = 0
    for i, m in enumerate(matches):
        fn = m.group(1).lower()
        dist = bool(m.group(2))
        e, body = m.group(3).strip(), m.group(4).strip()
        mode = re.sub(r"\s+", " ", m.group(5).upper())
        bm = _WINDOW_BODY.match(body)
        if bm is None or not bm.group("order"):
            return sql
        frame = (bm.group("frame") or "").strip()
        if fn in ("min", "max") and mode == "NO OTHERS":
            # the default; drop the clause (DISTINCT is a no-op for
            # min/max) — no helpers needed
            new_sel = new_sel.replace(m.group(0), f"{fn}({e}) OVER ({body})")
            processed += 1
            continue
        if fn in ("sum", "count", "avg"):
            algebraic = (not dist) and (
                mode in ("NO OTHERS", "CURRENT ROW")
                or _peer_partition(body) is not None
            )
            if algebraic:
                continue  # rewrite_window_exclude's exact subtraction
            if re.match(r"GROUPS\b", frame, re.IGNORECASE):
                return sql  # GROUPS + EXCLUDE: out of scope — loud
            okeys = []
            for kx in _split_top_level(bm.group("order")):
                kx = re.sub(
                    r"\s+(ASC|DESC)\b", "", kx.strip(), flags=re.IGNORECASE
                )
                kx = re.sub(
                    r"\s+NULLS\s+(FIRST|LAST)\b", "", kx, flags=re.IGNORECASE
                )
                okeys.append(kx.strip())
            kstruct = "struct(" + ", ".join(
                f"({kx}) AS k{j}" for j, kx in enumerate(okeys)
            ) + ")"
            b = f"__mx{i}"
            star = (not dist) and e in ("*", "1")
            val = "1" if star else f"({e})"
            helpers += [
                f"{val} AS {b}_e",
                f"row_number() OVER ({body[: body.rfind(frame)].strip() if frame else body}) AS {b}_rn",
                f"{kstruct} AS {b}_k",
            ]
            w = body[: body.rfind(frame)].strip() if frame else body
            if mode == "CURRENT ROW":
                cond = f"x.rn != {b}_rn"
            elif mode == "GROUP":
                cond = f"NOT (x.k <=> {b}_k)"
            elif mode == "TIES":
                cond = f"(NOT (x.k <=> {b}_k) OR x.rn = {b}_rn)"
            else:  # NO OTHERS (reachable only with DISTINCT)
                cond = "true"
            nn = "true" if star else "x.v IS NOT NULL"
            over = f"{w} {frame}".strip()
            arr = (
                f"filter(collect_list(struct({b}_e AS v, {b}_k AS k, "
                f"{b}_rn AS rn)) OVER ({over}), "
                f"x -> {nn} AND {cond})"
            )
            vals = f"transform({arr}, x -> x.v)"
            if dist:
                vals = f"array_distinct({vals})"
            if fn == "count":
                repl = f"CAST(size({vals}) AS BIGINT)"
            else:
                acc = "DOUBLE"
                if (
                    integral_columns
                    and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", e)
                    and e in integral_columns
                ):
                    acc = "DECIMAL(38,0)"
                ssum = (
                    f"aggregate({vals}, CAST(NULL AS {acc}), "
                    f"(s, x) -> coalesce(s, CAST(0 AS {acc})) + x)"
                )
                if fn == "sum":
                    repl = f"({ssum})"
                elif acc == "DOUBLE":
                    repl = f"(({ssum}) / size({vals}))"
                else:
                    repl = f"CAST(({ssum}) / size({vals}) AS DOUBLE)"
            new_sel = new_sel.replace(m.group(0), f"({repl})")
            processed += 1
            continue
        # no explicit frame + ORDER BY (guaranteed above) = the default
        # RANGE UNBOUNDED PRECEDING..CURRENT ROW, i.e. the lo_f shape
        # (r10: lets frameless min/max EXCLUDE through the exact
        # peer-aligned path instead of bailing loud)
        lo_f = bool(_FRAME_LO.fullmatch(frame)) or not frame
        hi_f = bool(_FRAME_HI.fullmatch(frame))
        full_f = bool(_FRAME_FULL.fullmatch(frame))
        general = not (lo_f or hi_f or full_f)
        if general and re.match(r"GROUPS\b", frame, re.IGNORECASE):
            return sql  # GROUPS frames: Spark has no equivalent — loud
        w = body[: body.rfind(frame)].strip() if frame else body
        b = f"__mx{i}"
        lg = "least" if fn == "min" else "greatest"
        if general:
            # Arbitrary explicit frame (two-sided sliding ROWS/RANGE,
            # bounded one-sided, …): collect the frame's rows as
            # (value, order-key, row_number) structs and drop the
            # excluded region with an array filter — rn identifies the
            # current row, the order-key struct (null-safe <=>) its peer
            # group. O(frame length) per row, the same cost profile as
            # the engine's own frame re-aggregation for EXCLUDE frames
            # (reference passes this straight to DuckDB,
            # src/duckdb-backend.ts:142-146); the helper rn/key columns
            # come from the same two-level restructure as the
            # peer-aligned path.
            okeys = []
            for kx in _split_top_level(bm.group("order")):
                kx = re.sub(
                    r"\s+(ASC|DESC)\b", "", kx.strip(), flags=re.IGNORECASE
                )
                kx = re.sub(
                    r"\s+NULLS\s+(FIRST|LAST)\b", "", kx, flags=re.IGNORECASE
                )
                okeys.append(kx.strip())
            kstruct = "struct(" + ", ".join(
                f"({kx}) AS k{j}" for j, kx in enumerate(okeys)
            ) + ")"
            helpers += [
                f"({e}) AS {b}_e",
                f"row_number() OVER ({w}) AS {b}_rn",
                f"{kstruct} AS {b}_k",
            ]
            if mode == "CURRENT ROW":
                cond = f"x.rn != {b}_rn"
            elif mode == "GROUP":
                cond = f"NOT (x.k <=> {b}_k)"
            else:  # TIES: drop peers, keep self
                cond = f"(NOT (x.k <=> {b}_k) OR x.rn = {b}_rn)"
            repl = (
                f"array_{fn}(transform(filter("
                f"collect_list(struct({b}_e AS v, {b}_k AS k, "
                f"{b}_rn AS rn)) OVER ({w} {frame}), "
                f"x -> x.v IS NOT NULL AND {cond}), x -> x.v))"
            )
            new_sel = new_sel.replace(m.group(0), f"({repl})")
            processed += 1
            continue
        peer = _peer_partition(body)
        if peer is None:
            return sql
        helpers += [
            f"({e}) AS {b}_e",
            f"row_number() OVER ({w}) AS {b}_rn",
            f"rank() OVER ({w}) AS {b}_rk",
            f"count(*) OVER ({peer}) AS {b}_pc",
        ]
        parts = []
        if lo_f or full_f:
            helpers.append(
                f"{fn}({e}) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING "
                f"AND 1 PRECEDING) AS {b}_lo"
            )
            parts.append(
                f"{fn}(CASE WHEN {b}_rn = {b}_rk THEN {b}_lo END) "
                f"OVER ({peer})"
            )
        if hi_f or full_f:
            helpers.append(
                f"{fn}({e}) OVER ({w} ROWS BETWEEN 1 FOLLOWING "
                f"AND UNBOUNDED FOLLOWING) AS {b}_hi"
            )
            parts.append(
                f"{fn}(CASE WHEN {b}_rn = {b}_rk + {b}_pc - 1 "
                f"THEN {b}_hi END) OVER ({peer})"
            )
        grp = parts[0] if len(parts) == 1 else f"{lg}({', '.join(parts)})"
        if mode == "GROUP":
            repl = grp
        elif mode == "TIES":
            repl = f"{lg}({grp}, {b}_e)"
        else:  # CURRENT ROW: group-exclusion ∪ peers-minus-self
            before = (
                f"{fn}({b}_e) OVER ({peer} ORDER BY {b}_rn "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            )
            after = (
                f"{fn}({b}_e) OVER ({peer} ORDER BY {b}_rn "
                f"ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
            )
            repl = f"{lg}({grp}, {lg}({before}, {after}))"
        new_sel = new_sel.replace(m.group(0), f"({repl})")
        processed += 1
    if processed == 0:
        return sql
    if not helpers:
        # only clause-drops happened (NO OTHERS): no subquery needed
        tail_text = (" " + tail.strip()) if tail else ""
        return (
            f"SELECT {head.group(1) or ''}{new_sel.strip()} "
            f"FROM {src.strip()}{tail_text}"
        )
    distinct = head.group(1) or ""
    return (
        f"SELECT {distinct}{new_sel.strip()} "
        f"FROM (SELECT *, {', '.join(helpers)} FROM {src.strip()}) __mxsub"
        f"{(' ' + tail.strip()) if tail else ''}"
    )


_GROUPS_CALL = re.compile(
    r"\b([A-Za-z_]\w*)\s*\(\s*([^()]*?)\s*\)\s+OVER\s+"
    r"\(([^()]*?\bGROUPS\b[^()]*?)\)",
    re.IGNORECASE,
)


def rewrite_groups_frames(sql: str) -> str:
    """``agg(e) OVER (w GROUPS BETWEEN a AND b)`` — Spark has no GROUPS
    frame mode (verified PARSE_SYNTAX_ERROR on pyspark 4.1.2). GROUPS
    counts PEER GROUPS from the current row's group, which is exactly a
    RANGE frame over ``dense_rank()``: dense_rank increments by one per
    peer group, so ``RANGE BETWEEN a PRECEDING AND b FOLLOWING`` on the
    rank column includes precisely the rows whose group index is within
    [cur-a, cur+b]. Window functions can't nest, so the statement is
    restructured two-level like rewrite_minmax_exclude: the inner SELECT
    adds one ``dense_rank() OVER (part ORDER BY keys) AS __gdrN`` helper
    per distinct window body, the outer rewrites the call to
    ``agg(e) OVER (PARTITION BY part ORDER BY __gdrN RANGE …)``.

    Semantics pinned by tests/test_dialect.py::TestGroupsFrames
    hand-computed fixtures — the oracle's DuckDB v1.0.0 predates GROUPS
    (the reference's pass-through surface is version-bound the same
    way, src/duckdb-backend.ts:142-146), so no differential exists.
    Scope (else loud): single SELECT without WITH/GROUP BY/set ops/star
    items, an ORDER BY in the window, no EXCLUDE tail."""
    matches = list(_GROUPS_CALL.finditer(sql))
    if not matches:
        return sql
    head = re.match(r"\s*SELECT\s+(DISTINCT\s+)?", sql, re.IGNORECASE)
    if head is None:
        return sql
    if any(
        re.search(r"\bSELECT\b", sql[head.end() : m.start()], re.IGNORECASE)
        for m in matches
    ):
        return sql
    for kw in (r"\bGROUP\s+BY\b", r"\bHAVING\b", r"\bQUALIFY\b",
               r"\bUNION\b", r"\bINTERSECT\b", r"\bEXCEPT\b",
               r"\bWITH\b"):
        if _top_level_find(sql, kw) != -1:
            return sql
    from_pos = _top_level_find(sql, r"\bFROM\b")
    if from_pos == -1 or from_pos < matches[0].start():
        return sql
    sel = sql[head.end() : from_pos]
    for item in _split_top_level(re.sub(r"\x00LIT\d+\x00", "", sel)):
        if re.match(
            r"(?:[A-Za-z_][A-Za-z0-9_]*\s*\.\s*)?\*", item.strip()
        ):
            return sql
    rest = sql[from_pos + 4 :]
    tail_pos = _top_level_find(rest, r"\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b")
    src, tail = (
        (rest, "") if tail_pos == -1 else (rest[:tail_pos], rest[tail_pos:])
    )
    helpers: list[str] = []
    helper_for: dict[str, str] = {}  # window body sans frame -> helper col
    new_sel = sel
    for m in matches:
        fn, e, body = m.group(1), m.group(2).strip(), m.group(3).strip()
        bm = _WINDOW_BODY.match(body)
        if bm is None or not bm.group("order"):
            return sql
        frame = (bm.group("frame") or "").strip()
        fm = re.fullmatch(
            r"GROUPS\s+(?:BETWEEN\s+(?P<lo>UNBOUNDED\s+PRECEDING"
            r"|\d+\s+PRECEDING|CURRENT\s+ROW|\d+\s+FOLLOWING)\s+AND\s+"
            r"(?P<hi>UNBOUNDED\s+FOLLOWING|\d+\s+FOLLOWING"
            r"|CURRENT\s+ROW|\d+\s+PRECEDING)"
            r"|(?P<solo>UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING"
            r"|CURRENT\s+ROW))\s*",
            frame,
            re.IGNORECASE,
        )
        if fm is None:  # EXCLUDE tail / malformed bounds — loud
            return sql
        w = body[: body.rfind(frame)].strip()
        hcol = helper_for.get(w)
        if hcol is None:
            hcol = f"__gdr{len(helper_for)}"
            helper_for[w] = hcol
            helpers.append(f"dense_rank() OVER ({w}) AS {hcol}")
        part = bm.group("part")
        lo = fm.group("lo") or fm.group("solo")
        hi = fm.group("hi") or "CURRENT ROW"
        outer_w = (
            (f"PARTITION BY {part.strip()} " if part else "")
            + f"ORDER BY {hcol} RANGE BETWEEN {lo} AND {hi}"
        )
        new_sel = new_sel.replace(
            m.group(0), f"{fn}({e}) OVER ({outer_w})"
        )
    distinct = head.group(1) or ""
    return (
        f"SELECT {distinct}{new_sel.strip()} "
        f"FROM (SELECT *, {', '.join(helpers)} FROM {src.strip()}) __gdsub"
        f"{(' ' + tail.strip()) if tail else ''}"
    )


def rewrite_window_exclude(sql: str) -> str:
    """``agg(e) OVER (w EXCLUDE …)`` for sum/count/avg — Spark has no
    frame-exclusion clause, but these three are algebraic:

    - ``EXCLUDE CURRENT ROW``: subtract the current row's contribution.
    - ``EXCLUDE GROUP``: subtract the whole PEER GROUP's contribution,
      computed by a second window partitioned by (partition keys +
      order keys) — exact whenever the frame is peer-aligned (RANGE or
      default frames; ROWS frames stay loud, see ``_peer_partition``).
    - ``EXCLUDE TIES``: GROUP minus peers-only — subtract the peer
      group, add the current row back.
    - ``EXCLUDE NO OTHERS``: the default; the clause is simply dropped.

    NULL parity: an excluded-frame with no remaining (non-null) rows
    yields NULL for sum/avg, 0 for count — the guards reproduce it.
    Other aggregates (min/max/…) are not algebraically removable and
    stay loud parse errors. Simple OVER bodies only (no nested parens)
    — matching DuckDB's common usage."""

    def sub(m: re.Match) -> str:
        fn, e, w = m.group(1).lower(), m.group(2).strip(), m.group(3).strip()
        mode = re.sub(r"\s+", " ", m.group(4).upper())
        if re.match(r"DISTINCT\b", e, re.IGNORECASE):
            # DISTINCT + EXCLUDE is the restructure pass's job
            # (rewrite_minmax_exclude); a call still here is out of its
            # scope — leave intact so Spark errors on the EXCLUDE
            # keyword instead of on generated CASE WHEN (DISTINCT …).
            return m.group(0)
        if mode == "NO OTHERS":
            return f"{fn}({e}) OVER ({w})"
        if fn in ("min", "max"):
            # GROUP/TIES/CURRENT ROW for min/max are handled by the
            # statement-level restructure (rewrite_minmax_exclude, which
            # runs first); a call still here is out of its scope → loud.
            return m.group(0)
        star = e in ("*", "1")
        cur_cnt = "1" if star else f"(CASE WHEN ({e}) IS NULL THEN 0 ELSE 1 END)"
        cur_sum = f"coalesce({e}, 0)"
        if mode == "CURRENT ROW":
            # A frame that lies entirely before or after the current row
            # ([3 PRECEDING, 1 PRECEDING] / [2 FOLLOWING, …]) never
            # contains it — EXCLUDE CURRENT ROW is a no-op there, and
            # subtracting anyway silently mis-counts (found round 6:
            # count went NEGATIVE on [2 FOLLOWING, 3 FOLLOWING]).
            wb = _WINDOW_BODY.match(w)
            fr = (wb.group("frame") or "").strip() if wb else ""
            # a 0 offset IS the current row (0 PRECEDING/FOLLOWING ≡
            # CURRENT ROW) — the no-op guard must not fire on it
            if fr and (
                re.search(
                    r"BETWEEN\s+(?!0\s)\S+\s+FOLLOWING", fr, re.IGNORECASE
                )
                or re.search(
                    r"AND\s+(?!0\s)\S+\s+PRECEDING", fr, re.IGNORECASE
                )
            ):
                return f"{fn}({e}) OVER ({w})"
            minus_cnt, minus_sum = cur_cnt, cur_sum
        else:
            peer = _peer_partition(w)
            if peer is None:
                return m.group(0)  # out-of-scope shape: loud parse error
            minus_cnt = f"(count({e}) OVER ({peer}))"
            minus_sum = f"coalesce(sum({e}) OVER ({peer}), 0)"
            if mode == "TIES":  # peers minus the current row itself
                minus_cnt = f"({minus_cnt} - {cur_cnt})"
                minus_sum = f"({minus_sum} - {cur_sum})"
        cnt = f"(count({e}) OVER ({w})) - {minus_cnt}"
        if fn == "count":
            return f"({cnt})"
        diff = f"(sum({e}) OVER ({w})) - {minus_sum}"
        if fn == "sum":
            return f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {diff} END)"
        return (
            f"(CASE WHEN {cnt} = 0 THEN NULL "
            f"ELSE ({diff}) / ({cnt}) END)"
        )

    return _WINDOW_EXCLUDE.sub(sub, sql)


_LIKE_ESCAPE = re.compile(
    r"(\x00LIT\d+\x00|[A-Za-z_][\w.]*(?:\([^()]*\))?)"
    r"\s+(NOT\s+)?(I?LIKE)\s+(\x00LIT(\d+)\x00)\s+ESCAPE\s+\x00LIT(\d+)\x00",
    re.IGNORECASE,
)


def rewrite_like_escape(sql: str, stash: list[str]) -> str:
    """``[I]LIKE pattern ESCAPE e`` with literal pattern+escape.

    Two Spark gaps: ILIKE accepts no ESCAPE clause (→ lower both
    operands, use LIKE), and the common escape char ``'\\'`` breaks
    Spark's lexer even in standard-literal mode (a trailing backslash
    before the closing quote). Both pattern and escape are stashed
    literals here, so the user's escaping is RESOLVED at transpile time
    and re-emitted with an escape char that is lexer-safe and absent
    from the pattern. Non-literal shapes fall through to Spark's loud
    parse error. Escape chars are punctuation, unaffected by lower()."""

    def sub(m: re.Match) -> str:
        neg = m.group(2) or ""
        op = m.group(3).upper()
        pat = _lit_text(stash, m.group(5))
        esc = _lit_text(stash, m.group(6))
        if len(esc) != 1:
            return m.group(0)
        cand = next(
            (c for c in "!#@~^&=" if c not in pat and c != esc), None
        )
        if cand is None:
            return m.group(0)
        out, i = [], 0
        while i < len(pat):
            c = pat[i]
            if c == esc:
                if i + 1 >= len(pat):
                    # dangling trailing escape: DuckDB rejects the
                    # inline form too — leave unrewritten, fail loudly
                    return m.group(0)
                out.append(cand + pat[i + 1])
                i += 2
            else:
                out.append(c)
                i += 1
        new_pat = _stash_add(
            stash, "'" + "".join(out).replace("'", "''") + "'"
        )
        new_esc = _stash_add(stash, f"'{cand}'")
        if op == "ILIKE":
            return (
                f"lower({m.group(1)}) {neg}LIKE lower({new_pat}) "
                f"ESCAPE {new_esc}"
            )
        return f"{m.group(1)} {neg}LIKE {new_pat} ESCAPE {new_esc}"

    sql = _LIKE_ESCAPE.sub(sub, sql)

    # Without an ESCAPE clause DuckDB's LIKE has NO escape character —
    # a backslash in the pattern is a literal backslash — while Spark
    # defaults to backslash-escaping. Double them so Spark reads the
    # same pattern ('a\%b' matches a backslash + any run, not a
    # literal '%').
    def sub_bare(m: re.Match) -> str:
        pat = _lit_text(stash, m.group(2))
        if "\\" not in pat:
            return m.group(0)
        ph = _stash_add(
            stash,
            "'" + pat.replace("\\", "\\\\").replace("'", "''") + "'",
        )
        return m.group(0).replace(m.group(1), ph, 1)

    return re.sub(
        r"I?LIKE\s+(\x00LIT(\d+)\x00)(?!\s+ESCAPE\b)",
        sub_bare,
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_order_by_all(sql: str) -> str:
    """``ORDER BY ALL`` null-order parity: DuckDB's default null order is
    NULLS LAST for both directions, while Spark's ascending default is
    NULLS FIRST — append an explicit NULLS LAST when the query doesn't
    spell one. Spark 4 parses ``ORDER BY ALL [ASC|DESC] [NULLS …]``
    natively, so this is the only adjustment needed."""
    return re.sub(
        r"(\bORDER\s+BY\s+ALL\b(?:\s+(?:ASC|DESC)\b)?)(?!\s*(?:ASC|DESC|NULLS)\b)",
        r"\1 NULLS LAST",
        sql,
        flags=re.IGNORECASE,
    )


_ORDER_BY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_OB_TERMINATORS = re.compile(
    r"(LIMIT|OFFSET|FETCH|ROWS|RANGE|GROUPS|WINDOW|UNION|INTERSECT"
    r"|EXCEPT|HAVING|QUALIFY)\b",
    re.IGNORECASE,
)


def rewrite_order_by_nulls(sql: str) -> str:
    """DuckDB's default null order is NULLS LAST in BOTH sort directions;
    Spark's ascending default is NULLS FIRST. Without an explicit
    adjustment every bare ascending sort is silently different: a LIMIT
    under the divergent order returns different ROWS, and window
    ranks/frames over a null-bearing key compute different VALUES. Every
    ascending ORDER BY item without an explicit NULLS gets NULLS LAST —
    top-level, subqueries, and OVER(...) clauses alike. Descending items
    already agree. WITHIN GROUP (ORDER BY …) is left alone (aggregate
    input order — nulls are dropped by the aggregates that use it).
    Runs on literal-protected text."""
    out = []
    pos = 0
    while True:
        m = _ORDER_BY_RE.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        before = sql[: m.start()].rstrip()
        if re.search(r"\bWITHIN\s+GROUP\s*\($", before, re.IGNORECASE):
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        # clause extent: forward at the clause's own depth until a
        # terminator keyword or the paren that closes the clause
        i, depth, end = m.end(), 0, len(sql)
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0 and (c.isalpha()):
                prev = sql[i - 1]
                if not (prev.isalnum() or prev == "_"):
                    t = _OB_TERMINATORS.match(sql, i)
                    if t:
                        end = i
                        break
            i += 1
        clause = sql[m.end() : end]
        fixed = []
        for it in _split_top_level(clause):
            ws = re.fullmatch(r"(.*?)(\s*)", it, re.DOTALL)
            body, tail = ws.group(1), ws.group(2)
            # An ORDER BY nested INSIDE this item (window OVER(...),
            # subquery in the sort expression) sits behind parens the
            # extent scan skipped — recurse so it gets the same
            # null-order fix instead of keeping Spark's NULLS FIRST.
            if _ORDER_BY_RE.search(body):
                body = rewrite_order_by_nulls(body)
            if (
                not body.strip()
                or re.search(r"\bNULLS\s+(FIRST|LAST)$", body, re.IGNORECASE)
                or re.search(r"\bDESC$", body, re.IGNORECASE)
            ):
                fixed.append(body + tail)
            else:
                fixed.append(body + " NULLS LAST" + tail)
        out.append(sql[pos : m.end()])
        out.append(",".join(fixed))
        pos = end


def rewrite_ansi_fetch(sql: str) -> str:
    """ANSI limit spellings (batch 27): ``OFFSET n ROWS`` → ``OFFSET
    n``; ``FETCH FIRST|NEXT [n] ROW[S] ONLY`` → ``LIMIT n`` (count
    defaults to 1). ``WITH TIES`` has no Spark equivalent and is left
    for the parser — loud. The combined ANSI spelling ``OFFSET n ROWS
    FETCH NEXT k ROWS ONLY`` lands as ``OFFSET n LIMIT k`` after the
    two substitutions, but Spark's grammar only accepts LIMIT before
    OFFSET — reorder that pair (DuckDB itself accepts either order, so
    the swap is also a straight dialect fix for user-typed
    ``OFFSET n LIMIT k``)."""
    sql = re.sub(
        r"\bOFFSET\s+(\d+)\s+ROWS?\b", r"OFFSET \1", sql, flags=re.IGNORECASE
    )
    sql = re.sub(
        r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+\s+)?ROWS?\s+ONLY\b",
        lambda m: f"LIMIT {(m.group(1) or '1').strip()}",
        sql,
        flags=re.IGNORECASE,
    )
    return re.sub(
        r"\bOFFSET\s+(\d+)\s+LIMIT\s+(\d+)\b",
        r"LIMIT \2 OFFSET \1",
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_cte_materialized(sql: str) -> str:
    """``WITH t AS [NOT] MATERIALIZED (...)``: DuckDB materialization
    hints carry no semantics Spark can honor per-CTE — strip them (the
    global spark.sql.cteRecursionCacheEnabled/plan caching decide)."""
    return re.sub(
        r"\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(",
        "AS (",
        sql,
        flags=re.IGNORECASE,
    )


def rewrite_limit_percent(sql: str) -> str:
    """DuckDB percentage limits ``LIMIT p%`` (probed: floor(n*p/100)
    rows, ORDER BY respected) have no Spark spelling. Lower the query
    block to a windowed form: its top-level ORDER BY moves into a
    row_number() window, count(*) OVER () supplies n, and the helper
    columns are dropped by the outer projection. A block with no ORDER
    BY keeps arbitrary-subset semantics (OVER () is unordered) — the
    same contract DuckDB documents."""
    while True:
        m = re.search(r"\bLIMIT\s+(\d+(?:\.\d+)?)\s*%", sql, re.IGNORECASE)
        if m is None:
            return sql
        pct = m.group(1)
        depth, start = 0, 0
        for i in range(m.start() - 1, -1, -1):
            c = sql[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
        q = sql[start : m.start()].strip()
        tail = sql[m.end() :]
        ob = ""
        for om in re.finditer(r"\bORDER\s+BY\b", q, re.IGNORECASE):
            if _depth_at(q, om.start()) == 0:
                ob = q[om.end() :].strip()
                q = q[: om.start()].rstrip()
                break
        win = (
            f"OVER (ORDER BY {ob})"
            if ob
            # Spark's row_number demands an ordered window; with no
            # ORDER BY any subset is valid — order on the rows' arrival
            else "OVER (ORDER BY monotonically_increasing_id())"
        )
        repl = (
            f"SELECT * EXCEPT (__rn, __pn) FROM ("
            f"SELECT __q.*, row_number() {win} AS __rn, "
            f"count(*) OVER () AS __pn FROM ({q}) __q) __lp "
            f"WHERE __rn <= floor(__pn * {pct} / 100.0) ORDER BY __rn"
        )
        sql = sql[:start] + repl + tail


def _operand_start(sql: str, end: int) -> int | None:
    """Start index of the expression operand ENDING at ``end``
    (inclusive): a right-to-left chain of identifier / placeholder
    tokens, ``.`` links, ``::`` pg-casts, and balanced ``()`` / ``[]``
    groups (with their function name, if any) — ``upper(x)``,
    ``t.col``, ``('  x  ')``, ``x[1]``, ``s::timestamp``. None when no
    valid operand ends there."""
    k = end
    while True:
        if k < 0:
            return None
        c = sql[k]
        if c in ")]":
            open_ch = "(" if c == ")" else "["
            depth, j = 0, k
            while j >= 0:
                if sql[j] == c:
                    depth += 1
                elif sql[j] == open_ch:
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j < 0:
                return None
            k = j - 1
            while k >= 0 and (sql[k].isalnum() or sql[k] in "_\x00"):
                k -= 1
        elif c.isalnum() or c in "_\x00":
            while k >= 0 and (sql[k].isalnum() or sql[k] in "_\x00"):
                k -= 1
        else:
            return None
        if k >= 0 and sql[k] == ".":
            k -= 1
            continue
        if k >= 1 and sql[k] == ":" and sql[k - 1] == ":":
            k -= 2
            continue
        return k + 1


_DOT_CALL = re.compile(r"\.\s*([A-Za-z_]\w*)\s*\(")


def rewrite_dot_calls(sql: str) -> str:
    """DuckDB method-call syntax ``expr.fn(args)`` → ``fn(expr, args)``
    (docs/sql/functions/overview: "function chaining"; reference users
    reach it through pass-through SQL, src/duckdb-backend.ts). Chains
    left-fold naturally: ``('x').trim().upper()`` rewrites innermost
    first on each scan restart. A dotted prefix stays part of the
    operand (``s.a.lower()`` → ``lower(s.a)``), matching DuckDB's
    resolution rule (rightmost name is the function, rest the first
    argument). Runs on literal-protected text, after subscript/array
    rewrites so ``x[1].fn()`` bases are already calls. A bare-identifier
    operand naming a known DuckDB schema/catalog is a QUALIFIED function
    call, not a chain (probed: ``main.lower('X')`` = ``lower('X')``) —
    the qualifier is stripped instead of becoming a first argument."""
    _SCHEMA_QUALIFIERS = {"main", "pg_catalog", "system", "temp"}
    while True:
        for m in _DOT_CALL.finditer(sql):
            s = _operand_start(sql, m.start() - 1)
            if s is None:
                continue
            close_idx = _balanced_span(sql, m.end() - 1)
            if close_idx == -1:
                continue
            base = sql[s : m.start()].strip()
            args = sql[m.end() : close_idx].strip()
            if base.lower() in _SCHEMA_QUALIFIERS:
                call = f"{m.group(1)}({args})"
            else:
                call = (
                    f"{m.group(1)}({base}, {args})"
                    if args
                    else f"{m.group(1)}({base})"
                )
            sql = sql[:s] + call + sql[close_idx + 1 :]
            break
        else:
            return sql


_AT_TIME_ZONE = re.compile(
    r"\s+AT\s+TIME\s+ZONE\s+(\x00LIT\d+\x00)", re.IGNORECASE
)


def rewrite_at_time_zone(sql: str) -> str:
    """``x AT TIME ZONE 'z'``: DuckDB interprets a NAIVE timestamp as
    wall time in zone z and returns the instant (TIMESTAMPTZ) — exactly
    Spark's ``to_utc_timestamp(x, z)`` under the engine's pinned UTC
    session zone. A chained second hop (operand is already a
    ``to_utc_timestamp(...)`` call, i.e. an instant) converts back to
    wall time — ``from_utc_timestamp``. A ``TIMESTAMPTZ`` literal
    operand is left untouched (loud downstream) rather than guessed."""
    pos = 0
    while True:
        m = _AT_TIME_ZONE.search(sql, pos)
        if m is None:
            return sql
        s = _operand_start(sql, m.start() - 1)
        if s is None:
            pos = m.end()
            continue
        base = sql[s : m.start()]
        km = re.search(r"(TIMESTAMPTZ|TIMESTAMP|DATE)\s+$", sql[:s], re.IGNORECASE)
        if km and km.group(1).upper() == "TIMESTAMPTZ":
            pos = m.end()
            continue
        if km:
            s = km.start(1)
            base = sql[s : m.start()]
        fn = (
            "from_utc_timestamp"
            if re.match(r"\s*to_utc_timestamp\s*\(", base, re.IGNORECASE)
            else "to_utc_timestamp"
        )
        sql = sql[:s] + f"{fn}({base.strip()}, {m.group(1)})" + sql[m.end() :]
        pos = s  # rescan from here: chained hops see the new call


_WF_CALL = re.compile(r"(?<![\w.\x00])([A-Za-z_]\w*)\s*\(")


def rewrite_window_filter(sql: str) -> str:
    """``agg(x) FILTER (WHERE p) OVER w``: Spark rejects window
    aggregates with a filter clause outright ("not supported yet",
    probed on 4.1) while DuckDB accepts them. Lower to conditional
    aggregation — each argument wrapped ``CASE WHEN p THEN arg END``
    (``*`` → a guarded 1) — which every null-ignoring aggregate treats
    as row exclusion. DISTINCT stays outside the CASE. Aggregates with
    an in-call ORDER BY are left alone (their dedicated passes run
    earlier and absorb FILTER themselves); plain non-window FILTER is
    Spark-native and untouched."""
    out, pos = [], 0
    while True:
        m = _WF_CALL.search(sql, pos)
        if m is None:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = m.end() - 1
        close_idx = _balanced_span(sql, open_idx)
        if close_idx == -1:
            out.append(sql[pos : m.end()])
            pos = m.end()
            continue
        fm = re.match(r"\s*FILTER\s*\(", sql[close_idx + 1 :], re.IGNORECASE)
        if fm is None:
            out.append(sql[pos : open_idx + 1])
            pos = open_idx + 1
            continue
        fopen = close_idx + 1 + fm.end() - 1
        fclose = _balanced_span(sql, fopen)
        if fclose == -1:
            out.append(sql[pos : open_idx + 1])
            pos = open_idx + 1
            continue
        om = re.match(r"\s*OVER\s*(\(|[A-Za-z_]\w*)", sql[fclose + 1 :], re.IGNORECASE)
        body = sql[open_idx + 1 : close_idx]
        if om is None or re.search(
            r"\bORDER\s+BY\b", body, re.IGNORECASE
        ) and any(
            _depth_at(body, bm.start()) == 0
            for bm in re.finditer(r"\bORDER\s+BY\b", body, re.IGNORECASE)
        ):
            out.append(sql[pos : open_idx + 1])
            pos = open_idx + 1
            continue
        inner = sql[fopen + 1 : fclose].strip()
        wm = re.match(r"WHERE\b(.*)$", inner, re.IGNORECASE | re.DOTALL)
        pred = (wm.group(1) if wm else inner).strip()
        distinct = ""
        bm = re.match(r"\s*DISTINCT\b(.*)$", body, re.IGNORECASE | re.DOTALL)
        if bm:
            distinct, body = "DISTINCT ", bm.group(1)
        args = [a.strip() for a in _split_top_level(body)]
        if args == ["*"]:
            new_args = [f"CASE WHEN {pred} THEN 1 END"]
        else:
            new_args = [f"CASE WHEN {pred} THEN {a} END" for a in args if a]
        out.append(sql[pos : m.start()])
        out.append(f"{m.group(1)}({distinct}{', '.join(new_args)})")
        pos = fclose + 1  # keep OVER onwards, drop the FILTER clause


def rewrite_union_functions(sql: str, stash: list[str]) -> str:
    """DuckDB UNION-type constructor/extractor (probed batch 25):
    ``union_value(tag := x)`` → ``named_struct('tag', x)`` and
    ``union_extract(u, 'tag')`` → parenthesized struct field access.
    Parquet has no union type (DuckDB materializes tagged structs), so
    the struct mapping is exact for anything a reference user can
    round-trip through files. ``union_tag`` is left unresolved — loud —
    rather than guessed from an unknowable runtime tag."""

    def uv(args):
        if len(args) != 1:
            return None
        am = re.match(r"([A-Za-z_]\w*)\s*:=\s*(.+)$", args[0], re.DOTALL)
        if am is None:
            return None
        tag = _stash_add(stash, f"'{am.group(1)}'")
        return f"named_struct({tag}, {am.group(2).strip()})"

    def ux(args):
        if len(args) != 2:
            return None
        lm = re.fullmatch(r"\x00LIT(\d+)\x00", args[1])
        if lm is None:
            return None
        tag = stash[int(lm.group(1))][1:-1]
        if not re.fullmatch(r"[A-Za-z_]\w*", tag):
            return None
        return f"({args[0]}).{tag}"

    sql = _rewrite_calls(sql, "union_value", uv)
    return _rewrite_calls(sql, "union_extract", ux)


def fold_const_compat_calls(sql: str, stash: list[str]) -> str:
    """Constant-fold pure single-string-argument compat UDFs applied to
    LITERALS at transpile time (r14 optimization round, guide §4 —
    eliminate the Python boundary). ``json_structure('[…]')`` over a
    literal otherwise plans a BatchEvalPython node: a per-action Python
    worker round-trip and a broken codegen stage, to compute a constant.
    The fold calls the SAME Python implementation the UDF registry
    would, so the value is identical by construction; non-literal
    arguments are left for the runtime UDF unchanged."""
    low = sql.lower()
    if not any(
        n in low for n in ("json_structure", "json_quote", "json_type", "json")
    ):
        return sql
    from vscode_parquet_visualizer_spark.functions import udf_compat

    fns = {
        "json_structure": udf_compat.json_structure,
        "json_quote": udf_compat.json_quote,
        "json_type": udf_compat.json_type_of,
        "json": udf_compat.json_canonical,
    }
    lit = re.compile(r"^\x00LIT(\d+)\x00$")

    for name, fn in fns.items():
        if name not in low:
            continue

        def xf(args, fn=fn):
            if len(args) != 1:
                return None
            m = lit.match(args[0])
            if m is None:
                return None
            out = fn(_lit_text(stash, m.group(1)))
            if out is None:
                return "CAST(NULL AS STRING)"
            if "\\" in out:
                # A folded value containing backslashes re-embeds as a
                # SQL literal whose meaning depends on the parser mode:
                # under escapedStringLiterals=true (this engine's
                # sessions) the bytes pass through verbatim, but a
                # consumer running transpile() output on a default
                # session would decode them as escapes (r14 ADVICE).
                # Backslash outputs are rare (json_quote of a string
                # with quotes/controls) — leave the runtime UDF call in
                # place: fail-open, mode-independent, value-identical.
                return None
            return _stash_add(stash, "'" + out.replace("'", "''") + "'")

        sql = _rewrite_calls(sql, name, xf)
    return sql


_TRANSPILE_CACHE: dict = {}
_TRANSPILE_CACHE_MAX = 512


def transpile(
    sql: str,
    view: str = "data",
    columns: list[str] | None = None,
    dataset_path: str | None = None,
    array_columns: set[str] | None = None,
    date_columns: set[str] | None = None,
    integral_columns: set[str] | None = None,
) -> str:
    """Memoizing front door for :func:`_transpile_uncached` (r14
    optimization round). The rewrite chain is a PURE function of its
    arguments (about 70 top-level text passes, 186 call rewrites among
    them, over module-level constants, no session
    state — ENUM/DDL-dependent rewrites live in ddl_sql, schema
    dependence arrives explicitly via columns/array_columns/…), and a
    big query text costs 65-85 ms per call — paid on EVERY run of a
    repeated query. This is compiler memoization (query text → query
    text), not result caching: no data, no testdata paths, invalidated
    by nothing because nothing it reads can change."""
    key = (
        sql,
        view,
        tuple(columns) if columns is not None else None,
        dataset_path,
        frozenset(array_columns) if array_columns is not None else None,
        frozenset(date_columns) if date_columns is not None else None,
        frozenset(integral_columns)
        if integral_columns is not None
        else None,
    )
    hit = _TRANSPILE_CACHE.get(key)
    if hit is not None:
        return hit
    out = _transpile_uncached(
        sql,
        view,
        columns,
        dataset_path,
        array_columns,
        date_columns,
        integral_columns,
    )
    if len(_TRANSPILE_CACHE) >= _TRANSPILE_CACHE_MAX:
        _TRANSPILE_CACHE.clear()
    _TRANSPILE_CACHE[key] = out
    return out


def _transpile_uncached(
    sql: str,
    view: str = "data",
    columns: list[str] | None = None,
    dataset_path: str | None = None,
    array_columns: set[str] | None = None,
    date_columns: set[str] | None = None,
    integral_columns: set[str] | None = None,
) -> str:
    """Full DuckDB-dialect → Spark SQL rewrite chain. ``columns`` enables
    the schema-aware rewrites (COLUMNS('regex'), ordered * REPLACE);
    ``array_columns`` (array-typed column names from the live schema)
    sharpens len()/length() disambiguation; ``dataset_path`` lets
    read_parquet('<this dataset>') bind to the view.

    String literals are replaced by placeholders up front, so no rewrite
    can corrupt literal text (``'http://a::b'``, ``'a -> 1'``,
    ``'x!~y'``). Rewrites that *read* literal contents (JSON keys,
    strftime formats, regex patterns, list_aggregate names) resolve
    them through the stash and stash any literals they generate; the
    purely structural rewrites never see a quote character at all."""
    sql = rewrite_from_data(sql, view=view, dataset_path=dataset_path)
    sql = rewrite_columns_regex(sql, columns)
    sql, stash = _protect_literals(sql)
    sql = rewrite_numeric_literal_forms(sql)
    sql = rewrite_dynamic_interval(sql)
    # GROUP BY () — the standard empty grouping list ≡ one global group,
    # exactly what the bare aggregate computes (batch 40; Spark's parser
    # rejects the spelling)
    sql = re.sub(r"\bGROUP\s+BY\s*\(\s*\)", " ", sql, flags=re.IGNORECASE)
    # `::JSON` normalizes to `::STRING` BEFORE the arrow pass (wave 43:
    # `x::JSON ->> 'k'` mis-lexed the type NAME as the arrow operand,
    # emitting CAST(x AS get_json_object(JSON, …)) — the engine's JSON
    # type is a validated string anyway, see _CAST_TYPE_MAP)
    sql = re.sub(r"::\s*JSON\b", "::STRING", sql, flags=re.IGNORECASE)
    # searched-CASE bare-NULL condition (wave 44): DuckDB coerces the
    # untyped NULL to BOOLEAN; Spark raises DATATYPE_MISMATCH. Only the
    # form directly after CASE is safely identifiable as a searched
    # CASE (a later `WHEN NULL` could be a simple-CASE value).
    sql = re.sub(
        r"\bCASE\s+WHEN\s+NULL\s+THEN\b",
        "CASE WHEN CAST(NULL AS BOOLEAN) THEN",
        sql,
        flags=re.IGNORECASE,
    )
    # ...and a ::STRING cast directly feeding an arrow becomes CAST()
    # now, so the arrow pass sees a call operand (handles integer-index
    # first hops too: '[1,2]'::JSON ->> 1)
    sql = re.sub(
        r"((?:\x00LIT\d+\x00|[A-Za-z_][A-Za-z0-9_.]*))\s*::\s*STRING\b"
        r"(?=\s*->)",
        r"CAST(\1 AS STRING)",
        sql,
        flags=re.IGNORECASE,
    )
    sql = rewrite_json_arrows(sql, stash)
    sql = rewrite_strftime(sql, stash)
    sql = rewrite_regex_operators(sql, stash)
    sql = rewrite_any_all(sql)
    sql = rewrite_not_in_subquery(sql)
    sql = rewrite_in_subquery_projection(sql)
    sql = rewrite_cte_materialized(sql)
    sql = rewrite_ansi_fetch(sql)
    sql = rewrite_limit_percent(sql)
    sql = rewrite_string_split(sql, stash)
    sql = rewrite_list_aggregate(sql, stash)
    sql = rewrite_timestamp_literals(sql)
    sql = rewrite_at_time_zone(sql)
    # Literal-date arithmetic parity (batch 24): DuckDB types
    # DATE - DATE as BIGINT days (Spark: INTERVAL) and DATE ± INTERVAL
    # as TIMESTAMP (Spark: DATE). Literal operands only — column types
    # aren't knowable textually; the tables here store timestamps.
    sql = re.sub(
        r"\bDATE\s+(\x00LIT\d+\x00)\s*-\s*DATE\s+(\x00LIT\d+\x00)",
        r"datediff(DATE \1, DATE \2)",
        sql,
        flags=re.IGNORECASE,
    )
    sql = rewrite_interval_arith_casts(sql, date_columns)
    sql = rewrite_typed_literals(sql)
    sql = rewrite_pg_cast(sql)

    # UUID casts (wave 46): Spark has no UUID type — DuckDB's parses a
    # hex UUID and renders it back lowercase, so the value-faithful
    # lowering is a lower-cased string. (DuckDB also REJECTS malformed
    # UUIDs at cast time; that validation is not emulated — a malformed
    # input flows through as its lowercased text instead of erroring.)
    def _uuid_cast(fn):
        def x(a):
            if len(a) != 1:
                return None
            m = re.fullmatch(
                r"(?s)(.*)\s+AS\s+UUID\s*", a[0], re.IGNORECASE
            )
            if m is None:
                return None
            return f"lower({fn}({m.group(1)} AS STRING))"
        return x

    sql = _rewrite_calls(sql, "cast", _uuid_cast("CAST"))
    sql = _rewrite_calls(sql, "try_cast", _uuid_cast("TRY_CAST"))
    sql = rewrite_string_int_cast_literals(sql, stash)
    sql = rewrite_special_date_literals(sql, stash)
    sql = rewrite_cast_type_names(sql)
    sql = rewrite_distinct_on(sql)
    sql = rewrite_exclude(sql)
    sql = rewrite_replace_projection(sql, columns)
    sql = rewrite_list_comprehension(sql)  # before slices/array literals
    sql = rewrite_bracket_slice(sql, array_columns)  # before [..] literals
    sql = rewrite_map_literals(sql)  # before struct literals eat MAP {…}
    sql = rewrite_struct_literals(sql)
    sql = rewrite_array_literals(sql)
    sql = rewrite_dot_calls(sql)
    sql = rewrite_len(sql, array_columns)
    sql = rewrite_postfix_factorial(sql)
    sql = rewrite_int_literal_mathfns(sql)
    sql = rewrite_arithmetic_operators(sql)
    sql = rewrite_sample(sql)
    sql = rewrite_collate(sql)
    sql = rewrite_window_chain(sql)
    # after chain expansion (named windows resolve to inline bodies
    # where possible), before the EXCLUDE/DISTINCT frame lowerings —
    # a stripped frame never reaches those passes
    sql = rewrite_rank_frames(sql)
    sql = rewrite_series_table_functions(sql)
    sql = rewrite_multi_unnest(sql)
    sql = rewrite_unnest_in_expression(sql)
    sql = rewrite_function_shapes(sql, stash)
    sql = rewrite_union_functions(sql, stash)
    sql = fold_const_compat_calls(sql, stash)
    # DuckDB's FILTER (pred) shorthand (no WHERE keyword) — only after a
    # closing paren, so the filter() higher-order FUNCTION is untouched
    sql = re.sub(
        r"(?<=\))\s+FILTER\s*\(\s*(?!WHERE\b)",
        " FILTER (WHERE ",
        sql,
        flags=re.IGNORECASE,
    )
    sql = rewrite_window_filter(sql)
    sql = rewrite_groups_frames(sql)
    sql = rewrite_window_distinct(sql, integral_columns)
    sql = rewrite_minmax_exclude(sql, integral_columns)
    sql = rewrite_window_exclude(sql)
    sql = rewrite_like_escape(sql, stash)
    sql = rewrite_ignore_nulls(sql)
    sql = rewrite_from_first(sql)
    sql = rewrite_order_by_all(sql)
    sql = rewrite_order_by_nulls(sql)
    # DuckDB positional references ``#N`` (ORDER BY #1, GROUP BY #2) →
    # plain ordinals (batch 36). Guarded to list positions; string
    # literals are placeholders by now.
    sql = re.sub(r"(?<=[\s,(])#(\d+)\b", r"\1", sql)
    sql = rewrite_function_renames(sql)
    sql = rewrite_qualify(sql)
    sql = sql.replace("\x00RANGE\x00", "range")
    # LAST structural pass: DuckDB "quoted identifiers" / bare unicode
    # identifiers → backticks (wave 42) — after every rewrite that
    # pattern-matches the "…" spelling, before literal restore (which
    # may emit "…" as Spark STRING literals)
    sql = rewrite_quoted_identifiers(sql)
    # Frame-EXCLUDE that survived every rewrite pass (GROUPS frames,
    # out-of-scope statement shapes) must fail HERE, not as an opaque
    # Spark PARSE_SYNTAX_ERROR downstream (round-6 q74 lesson).
    leftover = re.search(
        r"\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*\)",
        sql,
        re.IGNORECASE,
    )
    if leftover:
        raise NotImplementedError(
            "window frame EXCLUDE clause not rewritable in this statement "
            f"shape: …{sql[max(0, leftover.start() - 60) : leftover.end()]}"
        )
    return _restore_literals(sql, stash, idq="backtick")
