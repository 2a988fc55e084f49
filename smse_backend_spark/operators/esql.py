"""ES|QL front-end: the piped query language (ES 8.11+) compiled to
DataFrame pipelines.

Supported subset (each stage maps 1:1 to an ES|QL processing command):

    FROM <table>
    | WHERE <boolean expr>      ==  !=  >  >=  <  <=  AND OR NOT ( )
                                x IN (lit, ...)   [NOT] LIKE "pat*?"
                                [NOT] RLIKE "regex"  (whole-string, as
                                the ES regexp query; \A..\z anchored so
                                Java regex == RE2)
                                x IS [NOT] NULL
                                match(col, "text")   length(col)
                                starts_with/ends_with/to_lower/
                                to_upper/concat/coalesce/abs/round
                                substring/trim/replace/left/right
                                to_string/to_integer/to_double
                                greatest/least/sqrt/floor/ceil
                                pow/log10 (6 dp quantized — libm
                                implementations differ by an ulp)
                                mv_count/mv_min/mv_max/mv_sum/
                                mv_avg/mv_join (element-order folds)
                                CASE(cond, val, ..., [default])
                                DATE_TRUNC("day"|"week"|..., ts)
                                arithmetic  + - * / %  (`/` is float
                                division on both engines — identical
                                IEEE results; use % for bucketing)
    | EVAL <name> = <expr>
    | STATS <agg> AS <name> [, ...] BY <key>[, <key>...]
                                count() count(col) sum avg min max
                                count_distinct(col) median(col)
                                top(col, n, "desc") values(col)
                                percentile(col, p) (exact,
                                interpolating == quantile_cont)
                                weighted_avg(col, w)
                                key := col | name = <expr>
                                     | CATEGORIZE(col)  (the
                                       deterministic prefix-skeleton
                                       categorizer, shared with the
                                       categorize_text aggregation)
    | KEEP col [, col...]
    | SORT col [ASC|DESC] [, ...]
    | LIMIT n
    | RENAME old AS new [, ...]
    | DROP col [, col...]
    | ENRICH table ON lkey == rkey WITH col [, col...]
                                        (dimension lookup -> broadcast
                                         left join; fact side never
                                         shuffles)
    | DISSECT col "%{a} ... %{z}"      (delimiter splitting)
    | GROK col "%{NUMBER:k:int} ..."   (base grok patterns WORD NUMBER
                                        INT NOTSPACE DATA GREEDYDATA;
                                        :int/:float type suffixes)

ONE parser produces ONE AST; two code generators walk it — a Spark
Column/DataFrame emitter and a DuckDB SQL emitter — so the oracle twin
is derived from the same tree, never hand-written per query.
``match(col, "text")`` is the WHERE-context (unscored) conjunctive
token match: every query term present in the tokenized column, the
filter-context semantics ES gives a match clause when no score is
requested. ``avg`` rounds to 6 dp on both engines.

Scale shape: the compiler emits a single declarative DataFrame chain —
filters and projections reach Catalyst exactly as a hand-written
pipeline would (pushdown/pruning verified in tests); STATS is one
partial-aggregated groupBy; SORT+LIMIT ends in TakeOrderedAndProject.
Nothing about the front-end adds a pass.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TOKEN_RE = re.compile(
    r'\s*(>=|<=|==|!=|[(),=+\-*/%<>|]|"(?:[^"\\]|\\.)*"|[A-Za-z_][A-Za-z_0-9]*|\d+\.\d+|\d+)'
)

_AGGS = {"count", "sum", "avg", "min", "max",
         "count_distinct", "median", "top", "values",
         "percentile", "weighted_avg"}

_TRUNC_UNITS = {"year", "month", "week", "day", "hour", "minute", "second"}


def _tokenize(src: str) -> list[str]:
    out, pos = [], 0
    while pos < len(src):
        if src[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise ValueError(f"ES|QL: cannot tokenize at {src[pos:pos+20]!r}")
        out.append(m.group(1))
        pos = m.end()
    return out


class _P:
    """Recursive-descent expression parser over the shared token list."""

    def __init__(self, toks: list[str]):
        self.t = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.t[self.i] if self.i < len(self.t) else None

    def next(self) -> str:
        tok = self.t[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got.upper() != tok.upper():
            raise ValueError(f"ES|QL: expected {tok!r}, got {got!r}")

    # expr := or_
    def expr(self):
        return self.or_()

    def or_(self):
        node = self.and_()
        while self.peek() and self.peek().upper() == "OR":
            self.next()
            node = ("or", node, self.and_())
        return node

    def and_(self):
        node = self.not_()
        while self.peek() and self.peek().upper() == "AND":
            self.next()
            node = ("and", node, self.not_())
        return node

    def not_(self):
        if self.peek() and self.peek().upper() == "NOT":
            self.next()
            return ("not", self.not_())
        return self.cmp()

    def cmp(self):
        node = self.add()
        if self.peek() in ("==", "!=", ">", ">=", "<", "<="):
            op = self.next()
            return ("cmp", op, node, self.add())
        # postfix IS [NOT] NULL
        if (self.peek() and self.peek().upper() == "IS"
                and self.i + 1 < len(self.t)):
            self.next()
            neg_null = False
            if self.peek() and self.peek().upper() == "NOT":
                self.next()
                neg_null = True
            self.expect("NULL")
            node = ("isnull", node)
            return ("not", node) if neg_null else node
        # infix IN / LIKE / RLIKE, with the NOT-infix forms (x NOT IN ...)
        neg = False
        if (self.peek() and self.peek().upper() == "NOT"
                and self.i + 1 < len(self.t)
                and self.t[self.i + 1].upper() in ("IN", "LIKE", "RLIKE")):
            self.next()
            neg = True
        if self.peek() and self.peek().upper() in ("IN", "LIKE", "RLIKE"):
            op = self.next().upper()
            if op == "IN":
                self.expect("(")
                lits = [self.prim()]
                while self.peek() == ",":
                    self.next()
                    lits.append(self.prim())
                self.expect(")")
                # literals only: a bare name would be a string on the
                # Spark emitter but a column reference in SQL
                if any(lit[0] not in ("str", "num", "int") for lit in lits):
                    raise ValueError("ES|QL: IN expects a list of literals")
                node = ("in", node, lits)
            else:
                pat = self.prim()
                if pat[0] != "str":
                    raise ValueError(f"ES|QL: {op} expects a quoted pattern")
                node = (op.lower(), node, pat[1])
            if neg:
                node = ("not", node)
        return node

    def add(self):
        node = self.mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            node = ("arith", op, node, self.mul())
        return node

    def mul(self):
        node = self.prim()
        while self.peek() in ("*", "/", "%"):
            op = self.next()
            node = ("arith", op, node, self.prim())
        return node

    def prim(self):
        tok = self.next()
        if tok == "(":
            node = self.expr()
            self.expect(")")
            return node
        if tok.startswith('"'):
            return ("str", tok[1:-1].replace('\\"', '"'))
        if re.fullmatch(r"\d+\.\d+", tok):
            return ("num", float(tok))
        if re.fullmatch(r"\d+", tok):
            return ("int", int(tok))
        if self.peek() == "(":
            self.next()
            args = []
            if self.peek() != ")":
                args.append(self.expr())
                while self.peek() == ",":
                    self.next()
                    args.append(self.expr())
            self.expect(")")
            return ("call", tok.lower(), args)
        return ("col", tok)


def _split_stages(query: str) -> list[str]:
    """Split on `|` only OUTSIDE double-quoted strings, so a literal
    pipe inside a DISSECT pattern ("%{a}|%{b}") or a string argument
    (concat(x, "|")) never mis-splits the query."""
    parts, buf, in_str, esc = [], [], False, False
    for ch in query:
        if in_str:
            buf.append(ch)
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            continue
        if ch == '"':
            in_str = True
            buf.append(ch)
        elif ch == "|":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_esql(query: str) -> list[tuple]:
    """Parse the pipe-separated stages into an AST list."""
    stages = []
    parts = [p.strip() for p in _split_stages(query.strip())]
    for k, part in enumerate(parts):
        toks = _tokenize(part)
        if not toks:
            continue
        head = toks[0].upper()
        p = _P(toks[1:])
        if head == "FROM":
            if k != 0:
                raise ValueError("ES|QL: FROM must be the first stage")
            table = p.next()
            meta_score = False
            if p.peek() and p.peek().upper() == "METADATA":
                p.next()
                if p.next() != "_score":
                    raise ValueError("ES|QL: only METADATA _score is supported")
                meta_score = True
            stages.append(("from", table, meta_score))
        elif head == "WHERE":
            stages.append(("where", p.expr()))
        elif head == "EVAL":
            assigns = []
            while True:
                name = p.next()
                p.expect("=")
                assigns.append((name, p.expr()))
                if p.peek() == ",":
                    p.next()
                    continue
                break
            stages.append(("eval", assigns))
        elif head == "STATS":
            aggs = []
            while True:
                # both naming forms: `name = agg()` (ES|QL-native) and
                # `agg() AS name`
                name = None
                if (p.i + 1 < len(p.t) and p.t[p.i + 1] == "="
                        and re.fullmatch(r"[A-Za-z_]\w*", p.peek() or "")):
                    name = p.next()
                    p.next()
                e = p.expr()
                if e[0] != "call" or e[1] not in _AGGS:
                    raise ValueError(f"ES|QL: STATS expects an aggregate, got {e}")
                if name is None:
                    p.expect("AS")
                    name = p.next()
                aggs.append((e, name))
                if p.peek() == ",":
                    p.next()
                    continue
                break
            by = []
            if p.peek() and p.peek().upper() == "BY":
                p.next()
                while True:
                    # BY col | BY name = <expr> | BY CATEGORIZE(col)
                    if (p.i + 1 < len(p.t) and p.t[p.i + 1] == "="
                            and re.fullmatch(r"[A-Za-z_]\w*", p.peek())):
                        name = p.next()
                        p.next()
                        by.append((name, p.expr()))
                    else:
                        e = p.expr()
                        if e[0] == "col":
                            by.append((e[1], e))
                        elif e[0] == "call" and e[1] == "categorize":
                            by.append(("category", e))
                        else:
                            raise ValueError(
                                "ES|QL: STATS BY expects a column, "
                                f"name = expr, or CATEGORIZE(col); got {e}"
                            )
                    if p.peek() == ",":
                        p.next()
                        continue
                    break
            stages.append(("stats", aggs, by))
        elif head == "KEEP":
            cols = [p.next()]
            while p.peek() == ",":
                p.next()
                cols.append(p.next())
            stages.append(("keep", cols))
        elif head == "SORT":
            keys = []
            while True:
                col = p.next()
                direc = "ASC"
                if p.peek() and p.peek().upper() in ("ASC", "DESC"):
                    direc = p.next().upper()
                keys.append((col, direc))
                if p.peek() == ",":
                    p.next()
                    continue
                break
            stages.append(("sort", keys))
        elif head == "MV_EXPAND":
            stages.append(("mv_expand", p.next()))
        elif head == "ENRICH":
            table = p.next()
            p.expect("ON")
            lk = p.next()
            p.expect("==")
            rk = p.next()
            p.expect("WITH")
            cols = [p.next()]
            while p.peek() == ",":
                p.next()
                cols.append(p.next())
            if lk == rk:
                # df.join(...).drop(rk) would drop BOTH ambiguous columns
                # on Spark while DuckDB errors differently — reject the
                # ambiguous form up front on both engines
                raise ValueError(
                    "ES|QL: ENRICH requires distinct fact/dimension key "
                    f"names (got {lk!r} == {rk!r}); RENAME one side first"
                )
            stages.append(("enrich", table, lk, rk, cols))
        elif head == "RENAME":
            pairs = []
            while True:
                old = p.next()
                p.expect("AS")
                pairs.append((old, p.next()))
                if p.peek() == ",":
                    p.next()
                    continue
                break
            stages.append(("rename", pairs))
        elif head == "DROP":
            cols = [p.next()]
            while p.peek() == ",":
                p.next()
                cols.append(p.next())
            stages.append(("drop", cols))
        elif head in ("DISSECT", "GROK"):
            col = p.next()
            pat = p.next()
            if not pat.startswith('"'):
                raise ValueError(f"ES|QL: {head} expects a quoted pattern")
            stages.append((head.lower(), col, pat[1:-1].replace('\\"', '"')))
        elif head == "LIMIT":
            stages.append(("limit", int(p.next())))
        else:
            raise ValueError(f"ES|QL: unknown command {head!r}")
        if p.peek() is not None:
            raise ValueError(f"ES|QL: trailing tokens in {part!r}: {p.t[p.i:]}")
    if not stages or stages[0][0] != "from":
        raise ValueError("ES|QL: query must start with FROM")
    return stages


def _wildcard_to_like(pat: str) -> str:
    """ES|QL LIKE uses `*`/`?` wildcards; translate to SQL LIKE `%`/`_`
    (identical on Spark and DuckDB). Literal `%`/`_` inside the pattern
    would need engine-specific ESCAPE plumbing — rejected explicitly."""
    if "%" in pat or "_" in pat:
        raise ValueError(
            "ES|QL: LIKE pattern may not contain literal % or _ "
            f"(use RLIKE for those): {pat!r}"
        )
    return pat.replace("*", "%").replace("?", "_")


def _anchored(pat: str) -> str:
    r"""ES|QL RLIKE (like the ES regexp query) matches the ENTIRE string.
    \A/\z anchors mean end-of-text on BOTH Java regex and RE2 ($ differs
    on trailing newlines)."""
    return r"\A(?:" + pat + r")\z"


def _find_match_calls(node, out):
    if not isinstance(node, tuple):
        return
    if node[0] == "call" and node[1] == "match":
        out.append(node)
    for child in node[1:]:
        if isinstance(child, tuple):
            _find_match_calls(child, out)
        elif isinstance(child, list):
            for c in child:
                _find_match_calls(c, out)


def _score_query_text(stages) -> str | None:
    """When FROM ... METADATA _score: the single match() clause whose
    BM25 score becomes _score (ES|QL accumulates scores from scoring
    functions in WHERE; this subset supports exactly one)."""
    if not stages[0][2]:
        return None
    calls = []
    for st in stages:
        if st[0] == "where":
            _find_match_calls(st[1], calls)
    if len(calls) != 1:
        raise ValueError(
            "ES|QL: METADATA _score requires exactly ONE match() clause "
            f"in WHERE (found {len(calls)})"
        )
    return calls[0][2][1][1]


# --- Spark emitter ----------------------------------------------------------

def _col_spark(node):
    from smse_backend_spark.functions.tokenizer import (
        tokenize_col,
        tokenize_py,
    )

    kind = node[0]
    if kind == "col":
        return F.col(node[1])
    if kind == "str":
        return F.lit(node[1])
    if kind in ("num", "int"):
        return F.lit(node[1])
    if kind == "cmp":
        op, a, b = node[1], _col_spark(node[2]), _col_spark(node[3])
        return {
            "==": a == b, "!=": a != b, ">": a > b,
            ">=": a >= b, "<": a < b, "<=": a <= b,
        }[op]
    if kind == "and":
        return _col_spark(node[1]) & _col_spark(node[2])
    if kind == "or":
        return _col_spark(node[1]) | _col_spark(node[2])
    if kind == "not":
        return ~_col_spark(node[1])
    if kind == "arith":
        op = node[1]
        ca, cb = _col_spark(node[2]), _col_spark(node[3])
        # `/` is float division on BOTH engines (Spark Column `/` and
        # DuckDB `/` both promote integers to double; IEEE division of
        # identical operands is bit-identical)
        return {"+": ca + cb, "-": ca - cb, "*": ca * cb,
                "/": ca / cb, "%": ca % cb}[op]
    if kind == "isnull":
        return _col_spark(node[1]).isNull()
    if kind == "in":
        return _col_spark(node[1]).isin([lit[1] for lit in node[2]])
    if kind == "like":
        return _col_spark(node[1]).like(_wildcard_to_like(node[2]))
    if kind == "rlike":
        return _col_spark(node[1]).rlike(_anchored(node[2]))
    if kind == "call":
        fn, args = node[1], node[2]
        if fn == "match":
            col_node, q_node = args
            terms = sorted(set(tokenize_py(q_node[1])))
            toks = tokenize_col(_col_spark(col_node))
            cond = F.lit(True)
            for t in terms:
                cond = cond & F.array_contains(toks, t)
            return cond
        if fn == "length":
            return F.length(_col_spark(args[0]))
        if fn == "starts_with":
            return _col_spark(args[0]).startswith(_col_spark(args[1]))
        if fn == "ends_with":
            return _col_spark(args[0]).endswith(_col_spark(args[1]))
        if fn == "to_lower":
            return F.lower(_col_spark(args[0]))
        if fn == "to_upper":
            return F.upper(_col_spark(args[0]))
        if fn == "concat":
            return F.concat(*[_col_spark(a) for a in args])
        if fn == "split":
            return F.split(_col_spark(args[0]),
                           re.escape(args[1][1]))
        if fn == "case":
            # CASE(cond1, val1[, cond2, val2...][, default])
            if len(args) < 2:
                raise ValueError("ES|QL: CASE needs a condition and value")
            c = None
            for i in range(0, len(args) - 1, 2):
                cond, val = _col_spark(args[i]), _col_spark(args[i + 1])
                c = F.when(cond, val) if c is None else c.when(cond, val)
            if len(args) % 2 == 1:
                c = c.otherwise(_col_spark(args[-1]))
            return c
        if fn == "date_trunc":
            unit = args[0]
            if unit[0] != "str" or unit[1] not in _TRUNC_UNITS:
                raise ValueError(
                    f"ES|QL: DATE_TRUNC unit must be one of {_TRUNC_UNITS}"
                )
            return F.date_trunc(unit[1], _col_spark(args[1]))
        if fn == "coalesce":
            return F.coalesce(*[_col_spark(a) for a in args])
        if fn == "abs":
            return F.abs(_col_spark(args[0]))
        if fn == "round":
            scale = args[1][1] if len(args) > 1 else 0
            return F.round(_col_spark(args[0]), int(scale))
        if fn == "substring":
            # ES|QL 1-based start + length, like SQL SUBSTRING
            return F.substring(
                _col_spark(args[0]), int(args[1][1]), int(args[2][1])
            )
        if fn == "trim":
            return F.trim(_col_spark(args[0]))
        if fn == "replace":
            # literal (non-regex) replacement on both engines
            return F.replace(
                _col_spark(args[0]), F.lit(args[1][1]), F.lit(args[2][1])
            )
        if fn == "left":
            return F.substring(_col_spark(args[0]), 1, int(args[1][1]))
        if fn == "right":
            c = _col_spark(args[0])
            n_ = int(args[1][1])
            return F.substring(c, -n_, n_)
        if fn == "to_string":
            return _col_spark(args[0]).cast("string")
        if fn == "to_integer":
            # ES TO_INTEGER truncates toward zero; Spark's double->long
            # cast does too (the oracle uses trunc() explicitly since
            # DuckDB's cast rounds)
            return _col_spark(args[0]).try_cast("double").cast("long")
        if fn == "to_double":
            return _col_spark(args[0]).try_cast("double")
        if fn == "greatest":
            return F.greatest(*[_col_spark(a) for a in args])
        if fn == "least":
            return F.least(*[_col_spark(a) for a in args])
        if fn == "pow":
            # pow/log10 are not IEEE-correctly-rounded and differ by an
            # ulp across libm implementations — quantized 6 dp on both
            # engines (sqrt/division ARE correctly rounded: left raw)
            return F.round(
                F.pow(_col_spark(args[0]), _col_spark(args[1])), 6
            )
        if fn == "sqrt":
            return F.sqrt(_col_spark(args[0]))
        if fn == "log10":
            return F.round(F.log10(_col_spark(args[0])), 6)
        if fn == "floor":
            return F.floor(_col_spark(args[0]))
        if fn == "ceil":
            return F.ceil(_col_spark(args[0]))
        if fn == "mv_count":
            return F.size(_col_spark(args[0])).cast("long")
        if fn == "mv_min":
            return F.array_min(_col_spark(args[0]))
        if fn == "mv_max":
            return F.array_max(_col_spark(args[0]))
        if fn == "mv_sum":
            # double fold in element order — IEEE-identical to the
            # oracle's list_sum
            return F.aggregate(
                _col_spark(args[0]), F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            )
        if fn == "mv_avg":
            c = _col_spark(args[0])
            total = F.aggregate(
                c, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            )
            return F.round(total / F.size(c), 6)
        if fn == "mv_join":
            return F.array_join(_col_spark(args[0]), args[1][1])
        if fn == "categorize":
            # the deterministic prefix-skeleton categorizer shared with
            # operators/aggregations.categorize_text (n_tokens=4): first
            # 4 analyzed tokens, digit-bearing tokens masked to '#'
            toks = tokenize_col(_col_spark(args[0]))
            return F.concat_ws(
                " ",
                F.transform(
                    F.slice(toks, 1, 4),
                    lambda t: F.when(t.rlike("[0-9]"),
                                     F.lit("#")).otherwise(t),
                ),
            )
        raise ValueError(f"ES|QL: unknown function {fn!r}")
    raise ValueError(f"ES|QL: bad node {node!r}")


def _agg_spark(node, name):
    fn, args = node[1], node[2]
    if fn == "count":
        c = F.count(F.lit(1)) if not args else F.count(_col_spark(args[0]))
        return c.cast("long").alias(name)
    target = _col_spark(args[0])
    if fn == "avg":
        return F.round(F.avg(target), 6).alias(name)
    if fn == "count_distinct":
        return F.countDistinct(target).cast("long").alias(name)
    if fn == "median":
        return F.round(F.median(target), 6).alias(name)
    if fn == "top":
        # TOP(col, n, "asc"|"desc") -> the n extreme values as an array
        n, direc = int(args[1][1]), args[2][1].lower()
        if direc not in ("asc", "desc"):
            raise ValueError("ES|QL: TOP order must be \"asc\" or \"desc\"")
        return F.slice(
            F.sort_array(F.collect_list(target), asc=direc == "asc"), 1, n
        ).alias(name)
    if fn == "values":
        return F.sort_array(F.collect_set(target)).alias(name)
    if fn == "percentile":
        # Spark's exact interpolating percentile == DuckDB quantile_cont
        # (bit-identical; established by event_value_percentiles)
        return F.round(
            F.percentile(target, F.lit(float(args[1][1]))), 6
        ).alias(name)
    if fn == "weighted_avg":
        w = _col_spark(args[1])
        return F.round(F.sum(target * w) / F.sum(w), 6).alias(name)
    return {"sum": F.sum, "min": F.min, "max": F.max}[fn](target).alias(name)


def run_esql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Execute an ES|QL query against the sf_dir parquet tables."""
    stages = parse_esql(query)
    score_q = _score_query_text(stages)
    df = None
    raw = None
    for st in stages:
        if st[0] == "from":
            raw = spark.read.parquet(f"{sf_dir}/{st[1]}.parquet")
            df = raw
        elif st[0] == "where":
            df = df.filter(_col_spark(st[1]))
            calls = []
            _find_match_calls(st[1], calls)
            if score_q is not None and calls:
                from smse_backend_spark.operators.search import (
                    bm25_scored_scan,
                )

                scored = bm25_scored_scan(
                    raw.withColumnRenamed("text", "content"), score_q
                ).select("doc_id", F.col("score").alias("_score"))
                df = df.join(scored, "doc_id")
                score_q = None
        elif st[0] == "eval":
            for name, expr_node in st[1]:
                df = df.withColumn(name, _col_spark(expr_node))
        elif st[0] == "stats":
            aggs, by = st[1], st[2]
            exprs = [_agg_spark(e, name) for e, name in aggs]
            keys = [_col_spark(node).alias(name) for name, node in by]
            df = df.groupBy(*keys).agg(*exprs) if by else df.agg(*exprs)
        elif st[0] in ("dissect", "grok"):
            regex, fields = (
                _dissect_to_regex(st[2]) if st[0] == "dissect"
                else _grok_to_regex(st[2])
            )
            for idx, (name, typ) in enumerate(fields, start=1):
                c = F.regexp_extract(F.col(st[1]), regex, idx)
                if typ == "int":
                    # try_cast (ANSI-safe) via double + floor on both
                    # engines: a decimal capture ("3.5") under :int would
                    # otherwise go null on Spark but round on DuckDB
                    c = F.floor(c.try_cast("double")).cast("long")
                elif typ == "float":
                    c = c.try_cast("double")
                df = df.withColumn(name, c)
        elif st[0] == "mv_expand":
            df = df.withColumn(st[1], F.explode(st[1]))
        elif st[0] == "enrich":
            _, table, lk, rk, cols = st
            dim = spark.read.parquet(f"{sf_dir}/{table}.parquet").select(
                rk, *cols
            )
            # enrich policies are dimension-sized: broadcast, never shuffle
            # the fact stream
            df = df.join(
                F.broadcast(dim), df[lk] == dim[rk], "left"
            ).drop(rk)
        elif st[0] == "rename":
            for old, new in st[1]:
                df = df.withColumnRenamed(old, new)
        elif st[0] == "drop":
            df = df.drop(*st[1])
        elif st[0] == "keep":
            df = df.select(*st[1])
        elif st[0] == "sort":
            keys = [
                F.col(c).asc() if d == "ASC" else F.col(c).desc()
                for c, d in st[1]
            ]
            df = df.orderBy(*keys)
        elif st[0] == "limit":
            df = df.limit(st[1])
    return df


# --- DuckDB emitter ---------------------------------------------------------

def _col_sql(node) -> str:
    from smse_backend_spark.functions.tokenizer import (
        tokenize_duckdb_sql,
        tokenize_py,
    )

    kind = node[0]
    if kind == "col":
        return node[1]
    if kind == "str":
        return "'" + node[1].replace("'", "''") + "'"
    if kind == "num":
        return repr(node[1])
    if kind == "int":
        return str(node[1])
    if kind == "cmp":
        op = {"==": "=", "!=": "<>"}.get(node[1], node[1])
        return f"({_col_sql(node[2])} {op} {_col_sql(node[3])})"
    if kind == "and":
        return f"({_col_sql(node[1])} AND {_col_sql(node[2])})"
    if kind == "or":
        return f"({_col_sql(node[1])} OR {_col_sql(node[2])})"
    if kind == "not":
        return f"(NOT {_col_sql(node[1])})"
    if kind == "arith":
        return f"({_col_sql(node[2])} {node[1]} {_col_sql(node[3])})"
    if kind == "isnull":
        return f"({_col_sql(node[1])} IS NULL)"
    if kind == "in":
        items = ", ".join(_col_sql(lit) for lit in node[2])
        return f"({_col_sql(node[1])} IN ({items}))"
    if kind == "like":
        pat = _wildcard_to_like(node[2]).replace("'", "''")
        return f"({_col_sql(node[1])} LIKE '{pat}')"
    if kind == "rlike":
        pat = _anchored(node[2]).replace("'", "''")
        return f"regexp_matches({_col_sql(node[1])}, '{pat}')"
    if kind == "call":
        fn, args = node[1], node[2]
        if fn == "match":
            col_sql = tokenize_duckdb_sql(_col_sql(args[0]))
            terms = sorted(set(tokenize_py(args[1][1])))
            conds = " AND ".join(
                f"list_contains({col_sql}, '" + t.replace("'", "''") + "')"
                for t in terms
            )
            return f"({conds})"
        if fn == "length":
            return f"length({_col_sql(args[0])})"
        if fn == "starts_with":
            return f"starts_with({_col_sql(args[0])}, {_col_sql(args[1])})"
        if fn == "ends_with":
            return f"ends_with({_col_sql(args[0])}, {_col_sql(args[1])})"
        if fn == "to_lower":
            return f"lower({_col_sql(args[0])})"
        if fn == "to_upper":
            return f"upper({_col_sql(args[0])})"
        if fn == "concat":
            return "(" + " || ".join(_col_sql(a) for a in args) + ")"
        if fn == "split":
            sep = args[1][1].replace("'", "''")
            return f"string_split({_col_sql(args[0])}, '{sep}')"
        if fn == "case":
            if len(args) < 2:
                raise ValueError("ES|QL: CASE needs a condition and value")
            parts = [
                f"WHEN {_col_sql(args[i])} THEN {_col_sql(args[i + 1])}"
                for i in range(0, len(args) - 1, 2)
            ]
            default = (f" ELSE {_col_sql(args[-1])}"
                       if len(args) % 2 == 1 else "")
            return "(CASE " + " ".join(parts) + default + " END)"
        if fn == "date_trunc":
            unit = args[0]
            if unit[0] != "str" or unit[1] not in _TRUNC_UNITS:
                raise ValueError(
                    f"ES|QL: DATE_TRUNC unit must be one of {_TRUNC_UNITS}"
                )
            # DuckDB date_trunc returns DATE for day-and-coarser units
            # while Spark always returns TIMESTAMP — cast to align
            return (f"CAST(date_trunc('{unit[1]}', {_col_sql(args[1])}) "
                    f"AS TIMESTAMP)")
        if fn == "coalesce":
            return "COALESCE(" + ", ".join(_col_sql(a) for a in args) + ")"
        if fn == "abs":
            return f"abs({_col_sql(args[0])})"
        if fn == "round":
            scale = int(args[1][1]) if len(args) > 1 else 0
            return f"round({_col_sql(args[0])}, {scale})"
        if fn == "substring":
            return (f"substring({_col_sql(args[0])}, {int(args[1][1])}, "
                    f"{int(args[2][1])})")
        if fn == "trim":
            return f"trim({_col_sql(args[0])})"
        if fn == "replace":
            a = args[1][1].replace("'", "''")
            b = args[2][1].replace("'", "''")
            return f"replace({_col_sql(args[0])}, '{a}', '{b}')"
        if fn == "left":
            return f"left({_col_sql(args[0])}, {int(args[1][1])})"
        if fn == "right":
            return f"right({_col_sql(args[0])}, {int(args[1][1])})"
        if fn == "to_string":
            return f"CAST({_col_sql(args[0])} AS VARCHAR)"
        if fn == "to_integer":
            return (f"CAST(trunc(TRY_CAST({_col_sql(args[0])} AS DOUBLE)) "
                    f"AS BIGINT)")
        if fn == "to_double":
            return f"TRY_CAST({_col_sql(args[0])} AS DOUBLE)"
        if fn == "greatest":
            return "greatest(" + ", ".join(_col_sql(a) for a in args) + ")"
        if fn == "least":
            return "least(" + ", ".join(_col_sql(a) for a in args) + ")"
        if fn == "pow":
            return f"round(pow({_col_sql(args[0])}, {_col_sql(args[1])}), 6)"
        if fn == "sqrt":
            return f"sqrt({_col_sql(args[0])})"
        if fn == "log10":
            return f"round(log10({_col_sql(args[0])}), 6)"
        if fn == "floor":
            # BIGINT on both engines (Spark's floor returns LONG)
            return f"CAST(floor({_col_sql(args[0])}) AS BIGINT)"
        if fn == "ceil":
            return f"CAST(ceil({_col_sql(args[0])}) AS BIGINT)"
        if fn == "mv_count":
            return f"len({_col_sql(args[0])})::BIGINT"
        if fn == "mv_min":
            return f"list_min({_col_sql(args[0])})"
        if fn == "mv_max":
            return f"list_max({_col_sql(args[0])})"
        if fn == "mv_sum":
            return f"list_sum({_col_sql(args[0])})::DOUBLE"
        if fn == "mv_avg":
            x = _col_sql(args[0])
            return f"round(list_sum({x})::DOUBLE / len({x}), 6)"
        if fn == "mv_join":
            sep = args[1][1].replace("'", "''")
            return f"array_to_string({_col_sql(args[0])}, '{sep}')"
        if fn == "categorize":
            toks = tokenize_duckdb_sql(_col_sql(args[0]))
            return (
                f"array_to_string(list_transform(({toks})[1:4], "
                "t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '#' "
                "ELSE t END), ' ')"
            )
        raise ValueError(f"ES|QL: unknown function {fn!r}")
    raise ValueError(f"ES|QL: bad node {node!r}")


def _agg_sql(node, name) -> str:
    fn, args = node[1], node[2]
    if fn == "count":
        inner = "*" if not args else _col_sql(args[0])
        return f"count({inner})::BIGINT AS {name}"
    target = _col_sql(args[0])
    if fn == "avg":
        return f"round(avg({target}), 6) AS {name}"
    if fn == "count_distinct":
        return f"count(DISTINCT {target})::BIGINT AS {name}"
    if fn == "median":
        return f"round(median({target}), 6) AS {name}"
    if fn == "top":
        n, direc = int(args[1][1]), args[2][1].upper()
        # FILTER matches Spark collect_list's null-dropping
        return (f"list_sort(list({target}) "
                f"FILTER ({target} IS NOT NULL), '{direc}')[1:{n}] "
                f"AS {name}")
    if fn == "values":
        return (f"list_sort(list(DISTINCT {target}) "
                f"FILTER ({target} IS NOT NULL)) AS {name}")
    if fn == "percentile":
        p = float(args[1][1])
        return f"round(quantile_cont({target}, {p}), 6) AS {name}"
    if fn == "weighted_avg":
        w = _col_sql(args[1])
        return f"round(sum({target} * {w}) / sum({w}), 6) AS {name}"
    return f"{fn}({target}) AS {name}"


def esql_to_sql(query: str) -> str:
    """Compile the SAME AST to DuckDB SQL (the oracle twin)."""
    stages = parse_esql(query)
    score_q = _score_query_text(stages)
    from_table = stages[0][1]
    sql = None
    # SORT/LIMIT apply IN PIPELINE POSITION (same as run_esql), not
    # hoisted to the end: 'SORT ts | LIMIT 100 | STATS ...' must
    # aggregate the top-100, and repeated SORT/LIMIT stages must not
    # overwrite each other. A SORT is held pending only until the next
    # stage so an adjacent LIMIT fuses into one well-defined top-n
    # subquery (ORDER BY alone in a subquery has no guaranteed order).
    pending_order = None
    for st in stages:
        if pending_order is not None and st[0] != "limit":
            sql = f"SELECT * FROM ({sql}) ORDER BY {pending_order}"
            pending_order = None
        if st[0] == "from":
            sql = f"SELECT * FROM {st[1]}"
        elif st[0] == "where":
            sql = f"SELECT * FROM ({sql}) WHERE {_col_sql(st[1])}"
            calls = []
            _find_match_calls(st[1], calls)
            if score_q is not None and calls:
                from smse_backend_spark.operators.search import (
                    _ALL_ROWS,
                    bm25_scan_oracle_sql,
                )

                scored = bm25_scan_oracle_sql(
                    score_q, _ALL_ROWS, None, from_table, "text"
                )
                sql = (f"SELECT p.*, s.score AS _score FROM ({sql}) p "
                       f"JOIN ({scored}) s USING (doc_id)")
                score_q = None
        elif st[0] == "eval":
            # sequential wrapping: a later assignment may reference an
            # earlier one in the same EVAL, as in ES|QL
            for name, expr_node in st[1]:
                sql = f"SELECT *, {_col_sql(expr_node)} AS {name} FROM ({sql})"
        elif st[0] == "stats":
            aggs, by = st[1], st[2]
            derived = [(n, node) for n, node in by if node != ("col", n)]
            if derived:
                # materialize computed keys (name = expr, CATEGORIZE)
                # in a wrapper projection, then group by name
                exts = ", ".join(
                    f"{_col_sql(node)} AS {n}" for n, node in derived
                )
                sql = f"SELECT *, {exts} FROM ({sql})"
            names = [n for n, _ in by]
            sels = ", ".join([*names, *[_agg_sql(e, n) for e, n in aggs]])
            group = f" GROUP BY {', '.join(names)}" if by else ""
            sql = f"SELECT {sels} FROM ({sql}){group}"
        elif st[0] in ("dissect", "grok"):
            regex, fields = (
                _dissect_to_regex(st[2]) if st[0] == "dissect"
                else _grok_to_regex(st[2])
            )
            # DuckDB single-quoted literals are escape-free: only quotes
            # need doubling; backslashes pass through verbatim
            rx = regex.replace("'", "''")
            exts = []
            for idx, (name, typ) in enumerate(fields, start=1):
                e = f"regexp_extract({st[1]}, '{rx}', {idx})"
                if typ == "int":
                    e = f"CAST(floor(TRY_CAST({e} AS DOUBLE)) AS BIGINT)"
                elif typ == "float":
                    e = f"TRY_CAST({e} AS DOUBLE)"
                exts.append(f"{e} AS {name}")
            sql = f"SELECT *, {', '.join(exts)} FROM ({sql})"
        elif st[0] == "mv_expand":
            # REPLACE keeps the exploded column in its original position,
            # matching Spark's withColumn-in-place semantics
            sql = (f"SELECT * REPLACE (unnest({st[1]}) AS {st[1]}) "
                   f"FROM ({sql})")
        elif st[0] == "enrich":
            _, table, lk, rk, cols = st
            sel = ", ".join([rk, *cols])
            sql = (f"SELECT * EXCLUDE ({rk}) FROM ({sql}) "
                   f"LEFT JOIN (SELECT {sel} FROM {table}) _dim "
                   f"ON {lk} = {rk}")
        elif st[0] == "rename":
            # EXCLUDE+re-add moves renamed columns to the END on the
            # oracle side while Spark's withColumnRenamed keeps position
            # (DuckDB 1.0 has no `* RENAME` star modifier). Known,
            # documented divergence: the oracle compare keys columns by
            # NAME, so position never affects the correctness gate.
            ren = ", ".join(f"{old} AS {new}" for old, new in st[1])
            olds = ", ".join(old for old, _ in st[1])
            sql = f"SELECT * EXCLUDE ({olds}), {ren} FROM ({sql})"
        elif st[0] == "drop":
            sql = f"SELECT * EXCLUDE ({', '.join(st[1])}) FROM ({sql})"
        elif st[0] == "keep":
            sql = f"SELECT {', '.join(st[1])} FROM ({sql})"
        elif st[0] == "sort":
            pending_order = ", ".join(f"{c} {d}" for c, d in st[1])
        elif st[0] == "limit":
            if pending_order is not None:
                sql = (f"SELECT * FROM ({sql}) "
                       f"ORDER BY {pending_order} LIMIT {st[1]}")
                pending_order = None
            else:
                sql = f"SELECT * FROM ({sql}) LIMIT {st[1]}"
    if pending_order is not None:
        return f"SELECT * FROM ({sql}) ORDER BY {pending_order}"
    return sql


# --- DISSECT / GROK (the ES|QL parsing commands) ----------------------------

_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NUMBER": r"\d+(?:\.\d+)?",
    "INT": r"\d+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
}

_FIELD_RE = re.compile(r"%\{([A-Za-z_][A-Za-z_0-9]*)(?::([A-Za-z_][A-Za-z_0-9]*))?(?::(int|float))?\}")


def _dissect_to_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    """DISSECT pattern -> anchored regex with one lazy group per field.
    ``%{name}`` fields separated by literal delimiters; lazy groups plus
    the ^...$ anchors reproduce dissect's left-to-right minimal-match
    splitting on both regex engines."""
    fields, regex, pos = [], "^", 0
    for m in re.finditer(r"%\{([A-Za-z_][A-Za-z_0-9]*)\}", pattern):
        regex += re.escape(pattern[pos:m.start()]) + "(.*?)"
        fields.append((m.group(1), None))
        pos = m.end()
    # \z, not $: Java regex lets $ match before a final trailing newline
    # while RE2's $ is true end-of-string — \z means end-of-text on BOTH
    regex += re.escape(pattern[pos:]) + r"\z"
    if not fields:
        raise ValueError(f"DISSECT pattern has no %{{field}}s: {pattern!r}")
    return regex, fields


def _grok_to_regex(pattern: str) -> tuple[str, list[tuple[str, str | None]]]:
    """GROK pattern -> unanchored regex. ``%{SYNTAX:field[:type]}``
    references the classic grok base patterns; literals are escaped.
    Unnamed syntaxes (``%{WORD}``) match without capturing."""
    fields, regex, pos = [], "", 0
    for m in _FIELD_RE.finditer(pattern):
        regex += re.escape(pattern[pos:m.start()])
        syntax, name, typ = m.group(1), m.group(2), m.group(3)
        if syntax not in _GROK_PATTERNS:
            raise ValueError(f"GROK: unknown pattern %{{{syntax}}}")
        body = _GROK_PATTERNS[syntax]
        if name:
            regex += f"({body})"
            fields.append((name, typ))
        else:
            regex += f"(?:{body})"
        pos = m.end()
    regex += re.escape(pattern[pos:])
    if not fields:
        raise ValueError(f"GROK pattern captures no fields: {pattern!r}")
    return regex, fields
