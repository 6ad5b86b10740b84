"""Flink 1.8 Table-API STRING-EXPRESSION facade.

Reference parity: the Java Table API's string-expression overloads —
``table.select("a, b.count as cnt")`` / ``.filter("a > 5 && b === 'x'")``
/ ``.groupBy("a")`` (flink-table/.../api/table.scala:162,318,375) — whose
expression language is defined by ExpressionParser.scala (same module).
This re-implements that grammar as a recursive-descent parser producing
PySpark Columns, so the whole surface stays declarative: every parsed
expression is a Catalyst expression, nothing executes in Python.

Grammar (precedence low -> high, ExpressionParser.scala:430-560):

    expression := logic ('as' ident)?
    logic      := or ('?' '(' logic ',' logic ')')?   -- ternary ifThenElse
    or         := comparison (('&&' | '||') comparison)*
    comparison := term (('===' '==' '=' '!==' '!=' '<>' '<=' '>=' '<' '>') term)?
    term       := product (('+' | '-') product)*
    product    := unary (('*' | '/' | '%') unary)*
    unary      := ('!' | '-' | '+')? postfix
    postfix    := atom ('.' suffixCall)*      -- a.count, a.upperCase(), a.cast(INT)
    atom       := '(' expression ')' | literal | ident | '*'

OVER windows follow the reference's two-part surface: ``Over.partitionBy
("a").orderBy("t").preceding("unbounded_range").alias("w")`` builds the
window (api/java/windows.scala Over builder), ``table.window(over)``
scopes it, and expressions apply it with the infix form ``"b.avg over
w"`` (ExpressionParser.scala:225) or the suffix ``"b.avg.over(w)"``.

Time attributes and interval literals (expressionDsl.scala): in-
expression interval literals (``10.minutes``, ``2.hours + 30.minutes``)
lower to Spark INTERVAL expressions; ``.rowtime`` is the event-time
marker (RelTimeIndicatorConverter.scala) and maps to the plain
TimestampType column (SURVEY §time: watermarks live on the stream side
via withWatermark); ``.proctime`` maps to ``current_timestamp()`` with a
documented semantic gap (Spark stamps once per plan evaluation, not per
operator).  ``.get(name|index)`` / ``.flatten()`` are the composite-type
accessors.  ``joinLateral(string)`` / ``leftOuterJoinLateral`` resolve
table functions registered with :func:`register_table_function`
(TableFunction.java:85) and lower to explode / explode_outer.  The one
remaining rejection: row-count intervals (``10.rows``) route to
count_window_agg (streaming/stateful.py) like the window builders do.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["Table", "GroupedTable", "Over", "OverWindowedTable", "Tumble", "Slide", "Session", "GroupWindowedTable", "ExpressionParserException", "parse_expression"]


class ExpressionParserException(ValueError):
    """Parity with the reference's ExpressionParserException."""


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^'']|'')*')
      | (?P<num>\d+\.\d+|\.\d+|\d+)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op>===|!==|==|!=|<>|<=|>=|&&|\|\||[-+*/%().,=<>!?])
    )""",
    re.VERBOSE,
)

# suffix aggregates (ExpressionParser Call -> SQL agg) — sum0 is Flink's
# null-as-zero sum
_AGGS = {
    "count": F.count,
    "sum": F.sum,
    "sum0": lambda c: F.coalesce(F.sum(c), F.lit(0)),
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "stddevpop": F.stddev_pop,
    "stddevsamp": F.stddev_samp,
    "varpop": F.var_pop,
    "varsamp": F.var_samp,
}

# suffix scalar calls: Flink camelCase name (lowercased) -> builder
_SCALARS = {
    "uppercase": lambda c: F.upper(c),
    "lowercase": lambda c: F.lower(c),
    "charlength": lambda c: F.length(c),
    "initcap": lambda c: F.initcap(c),
    "trim": lambda c: F.trim(c),
    "ltrim": lambda c: F.ltrim(c),
    "rtrim": lambda c: F.rtrim(c),
    "abs": lambda c: F.abs(c),
    "exp": lambda c: F.exp(c),
    "ln": lambda c: F.log(c),
    "log10": lambda c: F.log10(c),
    "log2": lambda c: F.log2(c),
    "sqrt": lambda c: F.sqrt(c),
    "floor": lambda c: F.floor(c),
    "ceil": lambda c: F.ceil(c),
    "sin": lambda c: F.sin(c),
    "cos": lambda c: F.cos(c),
    "tan": lambda c: F.tan(c),
    # math tail (expressionDsl.scala:328-443)
    "log": lambda c: F.log(c),  # natural log, same as .ln (Log(null, e))
    "sinh": lambda c: F.sinh(c),
    "cosh": lambda c: F.cosh(c),
    "tanh": lambda c: F.tanh(c),
    "asin": lambda c: F.asin(c),
    "acos": lambda c: F.acos(c),
    "atan": lambda c: F.atan(c),
    "cot": lambda c: F.cot(c),
    "degrees": lambda c: F.degrees(c),
    "radians": lambda c: F.radians(c),
    "sign": lambda c: F.signum(c),
    "isnull": lambda c: c.isNull(),
    "isnotnull": lambda c: c.isNotNull(),
}

# suffix scalars whose result is string-typed (drives the polymorphic
# '+' — see _Parser._mark_str / term())
_STRING_SCALARS = {"uppercase", "lowercase", "initcap", "trim", "ltrim", "rtrim"}

# TimeIntervalUnit forms accepted by .extract/.floor/.ceil
# (expressionDsl.scala:670-684): unit -> (date_trunc name, ceil step)
_TEMPORAL_UNITS = {
    "year": ("year", "1 YEAR"),
    "quarter": ("quarter", "3 MONTH"),
    "month": ("month", "1 MONTH"),
    "week": ("week", "7 DAY"),
    "day": ("day", "1 DAY"),
    "hour": ("hour", "1 HOUR"),
    "minute": ("minute", "1 MINUTE"),
    "second": ("second", "1 SECOND"),
}

_CAST_TYPES = {
    "byte": "tinyint",
    "tinyint": "tinyint",
    "short": "smallint",
    "smallint": "smallint",
    "int": "int",
    "integer": "int",
    "long": "bigint",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "varchar": "string",
    "decimal": "decimal(38,18)",
    "date": "date",
    "time": "string",  # Spark has no TIME type; closest printable form
    "timestamp": "timestamp",
}

# In-expression interval literals (expressionDsl.scala
# LiteralLongExpression: 10.minutes, 3.days ...) -> Spark INTERVAL unit
# + multiplier; quarters/weeks lower to their month/day multiples
# (Spark's interval grammar has no QUARTER/WEEK year-month units).
_EXPR_INTERVAL_UNITS = {
    "years": ("YEAR", 1), "year": ("YEAR", 1),
    "quarters": ("MONTH", 3), "quarter": ("MONTH", 3),
    "months": ("MONTH", 1), "month": ("MONTH", 1),
    "weeks": ("DAY", 7), "week": ("DAY", 7),
    "days": ("DAY", 1), "day": ("DAY", 1),
    "hours": ("HOUR", 1), "hour": ("HOUR", 1),
    "minutes": ("MINUTE", 1), "minute": ("MINUTE", 1),
    "seconds": ("SECOND", 1), "second": ("SECOND", 1),
    "millis": ("MILLISECOND", 1), "milli": ("MILLISECOND", 1),
}

_UNSUPPORTED_SUFFIX = {
    "rows",  # row-count interval: count_window_agg (streaming/stateful.py)
}

# DISTINCT aggregate modifier ('a.count.distinct) — min/max are
# distinct-invariant; avg(DISTINCT) has no Column-API form and errors
_DISTINCT_AGGS = {
    "count": F.count_distinct,
    "sum": F.sum_distinct,
    "min": F.min,
    "max": F.max,
}


def _is_int_lit(x) -> bool:
    return isinstance(x, _Lit) and isinstance(x.value, int)


class _Lit:
    """Wrapper so suffix calls can see literal python values before they
    become Columns (e.g. round's scale must be a python int)."""

    def __init__(self, value):
        self.value = value

    def col(self) -> Column:
        return F.lit(self.value)


class _Parsed:
    """A parsed expression: the Column, aggregate usage, sort marker,
    and the output name (explicit alias, or the bare field name)."""

    def __init__(self, col, has_agg=False, sort=None, name=None, is_star=False):
        self.col = col
        self.has_agg = has_agg
        self.sort = sort  # None | "asc" | "desc"
        self.name = name
        self.is_star = is_star


class _Parser:
    def __init__(self, text: str, windows: dict | None = None,
                 group_window: str | None = None,
                 string_cols: "set[str] | frozenset[str] | None" = None,
                 df: "DataFrame | None" = None):
        self.text = text
        # scope frame for lazy type resolution: when the static
        # id-marking can't tell whether a '+' operand is string-typed
        # (e.g. the result of if()/.get()/.at()/.element()), the parser
        # asks Catalyst directly via df.select(col).schema — parse-time
        # only, never per-row
        self.df = df
        self.windows = windows  # alias -> pyspark WindowSpec (OVER scope)
        self.group_window = group_window  # group-window alias in scope
        # names of string-typed columns in scope: drives Flink's
        # polymorphic '+' (arithmetic.scala Plus — string operand means
        # concatenation).  Callers with a DataFrame in hand thread the
        # schema in; the bare parse_expression() path has no scope and
        # keeps numeric '+' for column-only operands.
        self.string_cols = frozenset(string_cols or ())
        self._strs: set[int] = set()  # id()s of string-typed Columns
        # strong refs to every marked Column: without them CPython may
        # collect an intermediate Column mid-parse and RE-USE its id()
        # for a fresh numeric Column, falsely marking it string-typed
        self._strs_refs: list = []
        # same marking discipline for interval literals (10.minutes) —
        # temporalOverlaps needs to distinguish point vs interval args
        self._ivals: set[int] = set()
        self._ivals_refs: list = []
        self.toks: list[tuple[str, str, int]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if m is None:
                if text[pos:].strip() == "":
                    break
                raise ExpressionParserException(
                    f"Could not parse expression at column {pos + 1}: "
                    f"unexpected character {text[pos]!r} in {text!r}"
                )
            pos = m.end()
            for kind in ("str", "num", "ident", "op"):
                v = m.group(kind)
                if v is not None:
                    self.toks.append((kind, v, m.start()))
                    break
        self.i = 0
        self.has_agg = False

    # --- token helpers ----------------------------------------------
    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None, len(self.text))

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def accept_op(self, *ops):
        k, v, _ = self.peek()
        if k == "op" and v in ops:
            self.i += 1
            return v
        return None

    def accept_kw(self, *kws):
        k, v, _ = self.peek()
        if k == "ident" and v.lower() in kws:
            self.i += 1
            return v.lower()
        return None

    def error(self, msg: str):
        _, v, at = self.peek()
        raise ExpressionParserException(
            f"Could not parse expression at column {at + 1}: {msg} "
            f"(near {v!r} in {self.text!r})"
        )

    # --- grammar ------------------------------------------------------
    def parse_list(self) -> list[_Parsed]:
        out = [self.parse_one()]
        while self.accept_op(","):
            out.append(self.parse_one())
        if self.i < len(self.toks):
            self.error("End of expression expected")
        return out

    def parse_one(self) -> _Parsed:
        self.has_agg = False
        col, name, sort, star = self.alias()
        return _Parsed(col, has_agg=self.has_agg, sort=sort, name=name, is_star=star)

    def alias(self):
        col, name, sort, star = self.logic()
        if self.accept_kw("as"):
            k, v, _ = self.next()
            if k != "ident":
                self.error("alias name expected after 'as'")
            return col.alias(v), v, sort, star
        return col, name, sort, star

    def logic(self):
        col, name, sort, star = self.comparison()
        while True:
            op = self.accept_op("&&", "||")
            if op is None:
                break
            rcol, _, _, _ = self.comparison()
            col = (col & rcol) if op == "&&" else (col | rcol)
            name, sort, star = None, None, False
        # ternary 'cond ? (then, else)' (ExpressionParser.scala
        # ifThenElse infix form — JoinITCase testLeftJoinWithMultipleKeys)
        if self.accept_op("?"):
            if not self.accept_op("("):
                self.error("'(' expected after '?'")
            tcol, _, _, _ = self.logic()
            if not self.accept_op(","):
                self.error("',' expected between ternary branches")
            fcol, _, _, _ = self.logic()
            if not self.accept_op(")"):
                self.error("')' expected after ternary branches")
            return F.when(col, tcol).otherwise(fcol), None, None, False
        return col, name, sort, star

    def _mark_str(self, col):
        self._strs.add(id(col))
        self._strs_refs.append(col)
        return col

    def _mark_ival(self, col):
        self._ivals.add(id(col))
        self._ivals_refs.append(col)
        return col

    def _is_ival(self, col) -> bool:
        return id(col) in self._ivals

    def _resolve_is_str(self, col) -> bool:
        """Lazy string-typing fallback: ask Catalyst for the Column's
        actual type against the scope frame.  Covers every expression
        the static id-marking can't see through — if()/.if branches,
        .get on a string struct field, .at/.element on string arrays —
        so Flink's polymorphic '+' (arithmetic.scala Plus: a string
        operand means concatenation) holds for composite inputs too.
        Parse-time only; unresolvable columns (window refs mid-parse)
        fall back to non-string."""
        if self.df is None:
            return False
        from pyspark.sql.types import StringType

        try:
            return isinstance(
                self.df.select(col).schema[0].dataType, StringType
            )
        except Exception:
            return False

    def _prefix_call(self, fn: str):
        """Prefix function-call form of the reference grammar
        (ExpressionParser.scala:376 prefixFunctionCall, :370 prefixIf,
        :394 prefixExtract/Floor/Ceil): ``fn(receiver, args...)`` maps
        to the suffix builder ``receiver.fn(args...)`` — receiver
        first, matching every special prefix rule; LOG keeps its SQL
        signature ``log([base,] x)`` (receiver LAST, Log(base, expr)).
        Composes with suffix chains: ``trim(s).upperCase`` parses."""
        fnl = fn.lower()
        self.accept_op("(")
        if fnl == "if":
            # prefixIf: if(cond, ifTrue, ifFalse) — If(c, a, b)
            cond = self.logic()[0]
            if not self.accept_op(","):
                self.error("if(cond, ifTrue, ifFalse) expects 3 arguments")
            a = self.logic()[0]
            if not self.accept_op(","):
                self.error("if(cond, ifTrue, ifFalse) expects 3 arguments")
            b = self.logic()[0]
            if not self.accept_op(")"):
                self.error("')' expected after if(...)")
            out = F.when(cond, a).otherwise(b)
            if self._is_str(a) and self._is_str(b):
                self._mark_str(out)  # string-typed If stays string for '+'
            return (out, None, False)
        if fnl == "timestampdiff":
            # prefixTimestampDiff (ExpressionParser.scala:399):
            # timestampDiff(UNIT, t1, t2) — intervals of UNIT from t1
            # to t2, truncated toward zero; Spark's TIMESTAMPDIFF
            # matches all of ScalarFunctionsTest's published rows
            k, unit, _ = self.next()
            if k != "ident" or unit.lower() not in _TEMPORAL_UNITS:
                self.error(
                    "timestampDiff unit must be one of "
                    f"{sorted(u.upper() for u in _TEMPORAL_UNITS)}"
                )
            if not self.accept_op(","):
                self.error("timestampDiff(UNIT, t1, t2) expects 3 arguments")
            t1 = self.logic()[0]
            if not self.accept_op(","):
                self.error("timestampDiff(UNIT, t1, t2) expects 3 arguments")
            t2 = self.logic()[0]
            if not self.accept_op(")"):
                self.error("')' expected after timestampDiff(...)")
            out = F.timestamp_diff(
                unit.upper(), t1.cast("timestamp"), t2.cast("timestamp")
            )
            return (out.cast("int"), None, False)
        args = []
        if not self.accept_op(")"):
            args.append(self._arg())
            while self.accept_op(","):
                args.append(self._arg())
            if not self.accept_op(")"):
                self.error("')' expected in call arguments")
        if not args:
            self.error(f"prefix call {fn}() needs at least one argument")
        if fnl == "dateformat":
            # dateFormat(ts, mysqlFormat) — expressionDsl.scala:1197;
            # %-codes translated to one Spark date_format pattern
            from flink_1_8_sourcecode_spark.functions.scalar import (
                mysql_date_format,
            )

            if len(args) != 2 or not (
                isinstance(args[1], _Lit) and isinstance(args[1].value, str)
            ):
                self.error("dateFormat(timestamp, 'format') expects a string "
                           "literal format")
            try:
                out = mysql_date_format(self._argcol(args[0]), args[1].value)
            except ValueError as e:
                self.error(str(e))
            return (self._mark_str(out), None, False)
        if fnl == "concat_ws":
            # concat_ws(separator, s1, s2, ...) — expressionDsl:1392;
            # NULL separator -> NULL, NULL strings skipped (Spark's
            # CONCAT_WS has the identical contract)
            if len(args) < 2:
                self.error("concat_ws(separator, string, ...) expects >= 2 args")
            out = F.call_function("concat_ws", *[self._argcol(a) for a in args])
            return (self._mark_str(out), None, False)
        if fnl == "temporaloverlaps":
            # temporalOverlaps(lPoint, lTemporal, rPoint, rTemporal) —
            # expressionDsl:1170; time.scala TemporalOverlaps: each
            # temporal may be an INTERVAL (end = point + interval) or a
            # second TIME POINT (end = the point itself), and each
            # (start, end) pair is normalized so start <= end
            # (buildSwap) before testing e0 >= s1 && e1 >= s0 — so a
            # negative interval still matches SQL OVERLAPS
            if len(args) != 4:
                self.error("temporalOverlaps expects exactly 4 arguments")
            from flink_1_8_sourcecode_spark.functions.scalar import overlaps

            lp, ld, rp, rd = [self._argcol(a) for a in args]
            lend = lp + ld if self._is_ival(ld) else ld
            rend = rp + rd if self._is_ival(rd) else rd
            return (overlaps(lp, lend, rp, rend), None, False)
        # collection constructors (expressionDsl.scala:1249 array,
        # :1275 map; RowTypeTest row): value literals, not receivers
        if fnl == "array":
            return (F.array(*[self._argcol(a) for a in args]), None, False)
        if fnl == "map":
            if len(args) % 2 != 0:
                self.error("map(...) needs an even number of key/value arguments")
            return (F.create_map(*[self._argcol(a) for a in args]), None, False)
        if fnl == "row":
            return (F.struct(*[self._argcol(a) for a in args]), None, False)
        if (
            fnl in ("cast", "as", "get", "over", "distinct")
            or fnl in _EXPR_INTERVAL_UNITS
            or fnl in _UNSUPPORTED_SUFFIX
        ):
            self.error(f"{fn} is not callable in prefix form")
        if fnl == "log" and len(args) == 2:
            recv, rest = args[1], [args[0]]
        elif (
            fnl == "trim"
            and len(args) == 3
            and isinstance(args[0], tuple)
            and (args[0][1] or "").upper() in ("BOTH", "LEADING", "TRAILING")
        ):
            # prefixTrim (ExpressionParser.scala:385):
            # trim(MODE, char, operand) — operand is the receiver
            recv, rest = args[2], list(args[:2])
        else:
            recv, rest = args[0], args[1:]
        (out, name, star), _sort = self._apply_suffix(recv, fnl, fn, pre_args=rest)
        return (out, name, star)

    def _is_str(self, col) -> bool:
        return id(col) in self._strs

    def comparison(self):
        col, name, sort, star = self.term()
        op = self.accept_op("===", "==", "=", "!==", "!=", "<>", "<=", ">=", "<", ">")
        if op is None:
            return col, name, sort, star
        rcol, _, _, _ = self.term()
        if op in ("===", "==", "="):
            return col == rcol, None, None, False
        if op in ("!==", "!=", "<>"):
            return col != rcol, None, None, False
        return (
            {"<": col < rcol, "<=": col <= rcol, ">": col > rcol, ">=": col >= rcol}[op],
            None,
            None,
            False,
        )

    def term(self):
        col, name, sort, star = self.product()
        while True:
            op = self.accept_op("+", "-")
            if op is None:
                return col, name, sort, star
            rcol, _, _, _ = self.product()
            if op == "+" and not (self._is_str(col) or self._is_str(rcol)):
                # static marking can't see through composite results
                # (if(), .get(), .at(), .element()); resolve the actual
                # type before choosing concat vs arithmetic Plus — in
                # non-ANSI Spark a numeric '+' on a string silently
                # casts and yields NULL instead of concatenating
                if self._resolve_is_str(col) or self._resolve_is_str(rcol):
                    self._mark_str(col)
            if op == "+" and (self._is_str(col) or self._is_str(rcol)):
                # Flink Plus on a string operand = concatenation with
                # the other side implicitly cast (arithmetic.scala
                # Plus.validateInput); Spark's '+' would fail analysis
                col = self._mark_str(
                    F.concat(col.cast("string"), rcol.cast("string"))
                )
            else:
                out = col + rcol if op == "+" else col - rcol
                if self._is_ival(col) and self._is_ival(rcol):
                    self._mark_ival(out)  # 1.day + 2.hours stays interval
                col = out
            name, sort, star = None, None, False

    def product(self):
        col, name, sort, star = self.unary()
        while True:
            op = self.accept_op("*", "/", "%")
            if op is None:
                return col, name, sort, star
            rcol, _, _, _ = self.unary()
            col = {"*": col * rcol, "/": col / rcol, "%": col % rcol}[op]
            name, sort, star = None, None, False

    def unary(self):
        if self.accept_op("!"):
            col, _, _, _ = self.postfix()
            return ~col, None, None, False
        if self.accept_op("-"):
            col, _, _, _ = self.postfix()
            out = -col
            if self._is_ival(col):
                self._mark_ival(out)  # -2.days is still an interval
            return out, None, None, False
        self.accept_op("+")
        return self.postfix()

    def postfix(self):
        node = self.atom()  # _Lit | (col, name, star)
        sort = None
        last_agg = None  # (agg name, base Column) for '.distinct'
        while self.accept_op("."):
            k, fn, _ = self.next()
            if k != "ident":
                self.error("function name expected after '.'")
            fnl = fn.lower()
            if fnl in _UNSUPPORTED_SUFFIX:
                raise NotImplementedError(
                    f"string-expression construct .{fn} is not supported by the "
                    "facade — row-count windows route to count_window_agg "
                    "(streaming/stateful.py); SQL/Table windows are time-based"
                )
            if fnl == "distinct":
                # DISTINCT aggregate modifier ('a.count.distinct —
                # AggregateITCase testDistinctAggregate)
                if last_agg is None:
                    self.error(".distinct must follow an aggregate")
                agg, base = last_agg
                if agg not in _DISTINCT_AGGS:
                    self.error(
                        f".{agg}.distinct is not supported (supported: "
                        f"{sorted(_DISTINCT_AGGS)})"
                    )
                node, sort, last_agg = (_DISTINCT_AGGS[agg](base), None, False), None, None
                continue
            base = node.col() if isinstance(node, _Lit) else node[0]
            node, sort = self._apply_suffix(node, fnl, fn)
            last_agg = (fnl, base) if fnl in _AGGS else None
        if isinstance(node, _Lit):
            c = node.col()
            if isinstance(node.value, str):
                self._mark_str(c)
            return c, None, sort, False
        col, name, star = node
        # infix OVER (ExpressionParser.scala:225: composite ~ OVER ~
        # fieldReference): "b.avg over w" applies the aliased window
        if self.accept_kw("over"):
            k, wname, _ = self.next()
            if k != "ident":
                self.error("window alias expected after 'over'")
            col = self._apply_over(col, wname)
            name, star = None, False
        return col, name, sort, star

    def _apply_over(self, col, wname: str):
        if self.windows is None:
            raise ExpressionParserException(
                f"'over {wname}': no OVER windows in scope — call "
                "Table.window(Over.partitionBy(...).orderBy(...)"
                f".preceding(...).alias({wname!r})).select(...)"
            )
        spec = self.windows.get(wname)
        if spec is None:
            raise ExpressionParserException(
                f"'over {wname}': unknown window alias "
                f"(in scope: {sorted(self.windows)})"
            )
        # a windowed aggregate is a ROW-level expression again
        self.has_agg = False
        return col.over(spec)

    def _apply_suffix(self, node, fnl: str, fn: str, pre_args=None):
        """Apply one suffix call; returns (node, sort_marker)."""
        if fnl in _EXPR_INTERVAL_UNITS:
            # 10.minutes — expressionDsl.scala interval literal
            if not _is_int_lit(node):
                self.error(
                    f"interval literal .{fn} needs an integer base "
                    f"(e.g. 10.{fn})"
                )
            unit, mult = _EXPR_INTERVAL_UNITS[fnl]
            return (
                (self._mark_ival(F.expr(f"INTERVAL {node.value * mult} {unit}")),
                 None, False),
                None,
            )
        base = node.col() if isinstance(node, _Lit) else node[0]
        if (
            fnl == "rowtime"
            and not isinstance(node, _Lit)
            and node[1] is not None
            and node[1] == self.group_window
        ):
            # group-window rowtime attribute ('w.rowtime — the emitted
            # record's event time, window end - 1ms; windows.scala /
            # WindowProperties rowtime)
            return (
                (base.getField("end") - F.expr("INTERVAL 1 MILLISECOND"),
                 None, False),
                None,
            )
        if fnl == "rowtime":
            # event-time marker (RelTimeIndicatorConverter.scala): the
            # attribute IS the TimestampType column; watermarks attach
            # on the stream side (streaming/watermarks.py)
            return (base.cast("timestamp"), None, False), None
        if fnl == "proctime":
            # processing-time marker ~= current_timestamp(); semantic
            # gap documented in SURVEY (stamped once per plan
            # evaluation, not per operator traversal)
            return (F.current_timestamp(), None, False), None
        if fnl == "flatten":
            # composite flatten ('s.flatten() -> one column per struct
            # field, expressionDsl.scala Flattening) — needs a NAMED
            # field reference so the star expansion can resolve
            name = None if isinstance(node, _Lit) else node[1]
            if name is None:
                self.error(".flatten() applies to a named struct field")
            if self.accept_op("("):
                if not self.accept_op(")"):
                    self.error(".flatten() takes no arguments")
            return (F.col(f"{name}.*"), None, True), None
        if fnl in ("asc", "desc"):
            return (base.asc() if fnl == "asc" else base.desc(), None, False), fnl
        if fnl == "cast":
            if not self.accept_op("("):
                self.error("'(' expected after cast")
            k, ty, _ = self.next()
            if k != "ident" or ty.lower() not in _CAST_TYPES:
                self.error(f"unknown cast target {ty!r}")
            if not self.accept_op(")"):
                self.error("')' expected after cast type")
            out = base.cast(_CAST_TYPES[ty.lower()])
            if _CAST_TYPES[ty.lower()] == "string":
                self._mark_str(out)
            return (out, None, False), None
        if fnl == "as":
            if not self.accept_op("("):
                self.error("'(' expected after .as")
            k, alias, _ = self.next()
            if k != "ident":
                self.error("alias name expected in .as()")
            if not self.accept_op(")"):
                self.error("')' expected after .as(name)")
            out = base.alias(alias)
            if self._is_str(base):
                self._mark_str(out)
            return (out, alias, False), None
        if pre_args is not None:
            # prefix-call path (_prefix_call): arguments already parsed
            args = list(pre_args)
        else:
            args = []
            if self.accept_op("("):
                if not self.accept_op(")"):
                    args.append(self._arg())
                    while self.accept_op(","):
                        args.append(self._arg())
                    if not self.accept_op(")"):
                        self.error("')' expected in call arguments")
        if fnl == "get":
            # composite accessor ('s.get("a"), 't.get(0) —
            # expressionDsl.scala get): field name or 0-based index
            if len(args) != 1 or not isinstance(args[0], _Lit):
                self.error('.get takes one literal: a field name or index')
            v = args[0].value
            if isinstance(v, str):
                return (base.getField(v), None, False), None
            if isinstance(v, int):
                return (base.getItem(v), None, False), None
            self.error(f".get: expected a string or int literal, got {v!r}")
        if fnl in ("start", "end") and not args:
            # group-window attribute access (w.start / w.end on the
            # window struct produced by Tumble/Slide/Session grouping)
            return (base.getField(fnl), None, False), None
        if fnl == "over":
            if len(args) != 1 or not (
                isinstance(args[0], tuple) and args[0][1] is not None
            ):
                self.error(".over takes exactly one window alias")
            return (self._apply_over(base, args[0][1]), None, False), None
        if fnl in _AGGS:
            if args:
                self.error(f"aggregate .{fn} takes no arguments")
            self.has_agg = True
            out = _AGGS[fnl](base)
            if fnl in ("min", "max") and self._is_str(base):
                self._mark_str(out)  # type-preserving aggregates
            return (out, None, False), None
        if fnl in _SCALARS and not args:
            out = _SCALARS[fnl](base)
            if fnl in _STRING_SCALARS:
                self._mark_str(out)
            return (out, None, False), None
        if fnl == "substring":
            # Flink substring(start[, length]) is 1-based, same as Spark
            cargs = [self._argcol(a) for a in args]
            if len(cargs) == 1:
                cargs.append(F.length(base))
            return (self._mark_str(base.substr(*cargs)), None, False), None
        if fnl == "power":
            return (F.pow(base, self._argcol(args[0])), None, False), None
        if fnl == "mod":
            return (base % self._argcol(args[0]), None, False), None
        if fnl == "round":
            a0 = args[0]
            if not _is_int_lit(a0):
                self.error("round scale must be an integer literal")
            return (F.round(base, a0.value), None, False), None
        if fnl == "like":
            a0 = args[0]
            if not (isinstance(a0, _Lit) and isinstance(a0.value, str)):
                self.error("like pattern must be a string literal")
            return (base.like(a0.value), None, False), None
        if fnl == "between":
            return (
                (base.between(self._argcol(args[0]), self._argcol(args[1])), None, False),
                None,
            )
        if fnl == "in":
            vals = [a.value if isinstance(a, _Lit) else a[0] for a in args]
            return (base.isin(*vals), None, False), None
        if fnl == "concat":
            return (
                (self._mark_str(F.concat(base, *[self._argcol(a) for a in args])),
                 None, False),
                None,
            )
        # collection accessors (expressionDsl.scala:855 at, :862
        # cardinality, :870 element)
        if fnl == "at":
            # 1-based array index / map key access (ItemAt) — Spark's
            # element_at has identical semantics for both
            return (F.element_at(base, self._argcol(args[0])), None, False), None
        if fnl == "cardinality":
            return (F.size(base), None, False), None
        if fnl == "element":
            # sole element of a 1-element array; NULL when empty OR
            # NULL input, error when larger (ArrayElement contract).
            # The NULL guard must lead: non-ANSI size(NULL) is -1,
            # which would otherwise fall through to raise_error
            out = (
                F.when(base.isNull(), F.lit(None))
                .when(F.size(base) == 1, F.element_at(base, 1))
                .when(F.size(base) == 0, F.lit(None))
                .otherwise(
                    F.raise_error(F.lit(".element() on an array with more than one element"))
                )
            )
            return (out, None, False), None
        if fnl == "trim" and args:
            # suffixTrim (ExpressionParser.scala:242): trim(MODE, char)
            # — Trim(mode, trimCharacter, operand)
            mode = (args[0][1] or "").upper() if isinstance(args[0], tuple) else ""
            if mode not in ("BOTH", "LEADING", "TRAILING"):
                self.error("trim mode must be BOTH, LEADING or TRAILING")
            ch = self._argcol(args[1]) if len(args) > 1 else F.lit(" ")
            sql_fn = {"BOTH": "btrim", "LEADING": "ltrim", "TRAILING": "rtrim"}[mode]
            # SQL btrim is (str, trimStr); 2-arg ltrim/rtrim are
            # (trimStr, str) — probed against Spark's FunctionRegistry
            fargs = (base, ch) if mode == "BOTH" else (ch, base)
            return (self._mark_str(F.call_function(sql_fn, *fargs)), None, False), None
        if fnl == "if":
            # suffixIf (ExpressionParser.scala:252): cond.if(a, b)
            if len(args) != 2:
                self.error(".if(ifTrue, ifFalse) expects exactly 2 arguments")
            out = F.when(base, self._argcol(args[0])).otherwise(
                self._argcol(args[1])
            )
            if self._arg_is_str(args[0]) and self._arg_is_str(args[1]):
                self._mark_str(out)  # string-typed If stays string for '+'
            return (out, None, False), None
        # math tail with arguments (expressionDsl.scala:328-457)
        if fnl == "log" and args:
            # x.log(b) = Log(base, x) — log base b of x
            return (
                (F.call_function("log", self._argcol(args[0]), base), None, False),
                None,
            )
        if fnl == "bin":
            return (self._mark_str(F.bin(base)), None, False), None
        if fnl == "hex":
            return (self._mark_str(F.hex(base)), None, False), None
        if fnl == "truncate":
            from flink_1_8_sourcecode_spark.functions.scalar import truncate

            if args:
                if not _is_int_lit(args[0]):
                    self.error("truncate scale must be an integer literal")
                return (truncate(base, args[0].value), None, False), None
            return (truncate(base), None, False), None
        # temporal tail of expressionDsl.scala (:653-684): cast
        # shorthands + EXTRACT / FLOOR-TO / CEIL-TO unit forms
        if fnl == "todate":
            return (base.cast("date"), None, False), None
        if fnl == "totimestamp":
            return (base.cast("timestamp"), None, False), None
        if fnl == "totime":
            # Spark has no TIME type (see _CAST_TYPES note) — render
            # the canonical HH:mm:ss form
            out = F.date_format(base.cast("timestamp"), "HH:mm:ss")
            return (self._mark_str(out), None, False), None
        if fnl in ("extract", "floor", "ceil") and args:
            a0 = args[0]
            unit = (a0[1] or "").lower() if isinstance(a0, tuple) else None
            if unit not in _TEMPORAL_UNITS:
                self.error(
                    f".{fn} unit must be one of "
                    f"{sorted(u.upper() for u in _TEMPORAL_UNITS)}"
                )
            if fnl == "extract":
                # EXTRACT returns LONG (Flink Extract); date_part's
                # fractional SECOND floors to the integer part
                out = F.floor(F.date_part(F.lit(unit.upper()), base)).cast("long")
                return (out, None, False), None
            trunc_name, step = _TEMPORAL_UNITS[unit]
            ts = base.cast("timestamp")
            t = F.date_trunc(trunc_name, ts)
            if fnl == "ceil":
                # CEIL TO unit: identity on an exact boundary,
                # else the next one (reference FLOOR/CEIL TO codegen)
                t = F.when(ts == t, t).otherwise(t + F.expr(f"INTERVAL {step}"))
            return (t, None, False), None
        # string-function tail of expressionDsl.scala (:545-646, :893-914)
        if fnl == "position":
            # needle.position(haystack) — 1-based, 0 when absent
            # (ScalarFunctions.scala position == Spark's POSITION)
            return (
                (F.call_function("position", base, self._argcol(args[0])),
                 None, False),
                None,
            )
        if fnl in ("lpad", "rpad"):
            out = F.call_function(
                fnl, base, self._argcol(args[0]), self._argcol(args[1])
            )
            return (self._mark_str(out), None, False), None
        if fnl == "overlay":
            # base.overlay(newString, starting[, length]) — SQL-standard
            # OVERLAY, identical operand order in Spark
            out = F.call_function(
                "overlay", base, *[self._argcol(a) for a in args]
            )
            return (self._mark_str(out), None, False), None
        if fnl == "repeat":
            out = F.call_function("repeat", base, self._argcol(args[0]))
            return (self._mark_str(out), None, False), None
        if fnl in ("regexpreplace", "regexpextract", "similar"):
            a0 = args[0]
            if not (isinstance(a0, _Lit) and isinstance(a0.value, str)):
                self.error(f"{fn} regex must be a string literal")
            if fnl == "regexpreplace":
                out = F.regexp_replace(base, a0.value, self._argcol(args[1]))
                return (self._mark_str(out), None, False), None
            if fnl == "similar":
                from flink_1_8_sourcecode_spark.functions.scalar import similar_to

                return (similar_to(base, a0.value), None, False), None
            # regexpExtract: group index defaults to 0 (the whole
            # match) and no-match yields NULL, not Spark's '' —
            # ScalarFunctions.scala:244-264
            if len(args) > 1:
                a1 = args[1]
                if not _is_int_lit(a1):
                    self.error("regexpExtract group index must be an integer literal")
                idx = a1.value
            else:
                idx = 0
            out = F.when(
                base.rlike(a0.value), F.regexp_extract(base, a0.value, idx)
            )
            return (self._mark_str(out), None, False), None
        if fnl == "frombase64":
            return (self._mark_str(F.unbase64(base).cast("string")), None, False), None
        if fnl == "tobase64":
            return (self._mark_str(F.base64(base.cast("binary"))), None, False), None
        if fnl == "md5":
            return (self._mark_str(F.md5(base.cast("binary"))), None, False), None
        if fnl == "sha1":
            return (self._mark_str(F.sha1(base.cast("binary"))), None, False), None
        if fnl == "sha256":
            return (self._mark_str(F.sha2(base.cast("binary"), 256)), None, False), None
        raise ExpressionParserException(
            f"Could not parse expression: unknown function .{fn} in {self.text!r}"
        )

    def _arg(self):
        # a bare literal argument stays a _Lit so calls that need python
        # values (round scale, like pattern) can see them
        k, v, _ = self.peek()
        nk, nv, _ = (
            self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None, 0)
        )
        if k in ("num", "str") and (nk is None or (nk == "op" and nv in (",", ")"))):
            self.i += 1
            if k == "str":
                return _Lit(v[1:-1].replace("''", "'"))
            return _Lit(float(v) if "." in v else int(v))
        col, name, sort, star = self.logic()
        return (col, name, star)

    def _argcol(self, a):
        return a.col() if isinstance(a, _Lit) else a[0]

    def _arg_is_str(self, a) -> bool:
        if isinstance(a, _Lit):
            return isinstance(a.value, str)
        return self._is_str(a[0])

    def atom(self):
        if self.accept_op("("):
            col, name, sort, star = self.logic()
            if not self.accept_op(")"):
                self.error("')' expected")
            return (col, None, False)
        k, v, at = self.peek()
        if k == "str":
            self.i += 1
            return _Lit(v[1:-1].replace("''", "'"))
        if k == "num":
            self.i += 1
            return _Lit(float(v) if "." in v else int(v))
        if k == "ident":
            self.i += 1
            low = v.lower()
            if low == "true":
                return _Lit(True)
            if low == "false":
                return _Lit(False)
            if low == "null":
                if self.accept_op("("):
                    kk, ty, _ = self.next()
                    if kk != "ident" or ty.lower() not in _CAST_TYPES:
                        self.error(f"unknown Null type {ty!r}")
                    if not self.accept_op(")"):
                        self.error("')' expected after Null(TYPE)")
                    return (F.lit(None).cast(_CAST_TYPES[ty.lower()]), None, False)
                return (F.lit(None), None, False)
            nk, nv, _ = self.peek()
            if nk == "op" and nv == "(":
                return self._prefix_call(v)
            c = F.col(v)
            if v in self.string_cols:
                self._mark_str(c)
            return (c, v, False)
        if k == "op" and v == "*":
            self.i += 1
            return (F.col("*"), "*", True)
        self.error("Composite expression expected")


def parse_expression(text: str) -> Column:
    """Parse ONE Flink string expression to a PySpark Column."""
    return _Parser(text).parse_one().col


# --- table functions (TableFunction.java:85) -------------------------
# registerFunction(name, TableFunction) parity: the python callable
# takes the call's argument Columns and returns an ARRAY Column — of
# scalars for a one-field function, of structs for several.  joinLateral
# explodes it (CROSS/OUTER APPLY).
_TABLE_FUNCTIONS: dict = {}


def register_table_function(name: str, fn) -> None:
    """TableEnvironment.registerFunction(name, TableFunction) —
    makes ``name(args) as (fields)`` resolvable in joinLateral."""
    _TABLE_FUNCTIONS[name.lower()] = fn


def _parse_table_function_call(call: str):
    """``name(arg, ...) as (a[, b ...])`` -> (name, [arg Columns],
    [alias names]) — the joinLateral string form (table.scala:627)."""
    p = _Parser(call)
    k, name, _ = p.next()
    if k != "ident":
        p.error("table function name expected")
    if not p.accept_op("("):
        p.error("'(' expected after table function name")
    args: list[Column] = []
    if not p.accept_op(")"):
        args.append(p.logic()[0])
        while p.accept_op(","):
            args.append(p.logic()[0])
        if not p.accept_op(")"):
            p.error("')' expected after table function arguments")
    if p.accept_kw("as") is None:
        p.error("'as (fields...)' expected after table function call")
    if not p.accept_op("("):
        p.error("'(' expected after as")
    aliases: list[str] = []
    k, a, _ = p.next()
    if k != "ident":
        p.error("field alias expected")
    aliases.append(a)
    while p.accept_op(","):
        k, a, _ = p.next()
        if k != "ident":
            p.error("field alias expected")
        aliases.append(a)
    if not p.accept_op(")"):
        p.error("')' expected after field aliases")
    if p.i < len(p.toks):
        p.error("End of expression expected")
    return name, args, aliases


def _parse_list(
    text: str,
    group_window: str | None = None,
    string_cols: "set[str] | None" = None,
    df: "DataFrame | None" = None,
) -> list[_Parsed]:
    return _Parser(
        text, group_window=group_window, string_cols=string_cols, df=df
    ).parse_list()


def _string_cols(df: DataFrame) -> set[str]:
    """Names of the frame's string-typed columns — parser scope for the
    polymorphic '+' (Flink arithmetic.scala Plus concatenates when an
    operand is a string)."""
    from pyspark.sql.types import StringType

    return {f.name for f in df.schema.fields if isinstance(f.dataType, StringType)}


class Table:
    """String-expression Table facade over a DataFrame — the reference's
    ``Table`` with its String overloads (table.scala:162 select, :289 as,
    :318 filter, :347 where, :375 groupBy, :422 join, :987 orderBy,
    :1009 offset, :1030 fetch).  ``.df`` is always available: the facade
    builds plain DataFrames, so every Catalyst optimization applies
    unchanged."""

    def __init__(self, df: DataFrame):
        self.df = df

    # --- projection / filter -----------------------------------------
    def select(self, fields: str) -> "Table":
        parsed = _parse_list(fields, string_cols=_string_cols(self.df),
                             df=self.df)
        if any(p.has_agg for p in parsed):
            # ungrouped select with aggregates = global aggregate; mixing
            # bare fields in is invalid (reference ProjectionTranslator
            # rejects it the same way)
            bare = [p for p in parsed if not p.has_agg]
            if bare:
                raise ExpressionParserException(
                    "cannot mix aggregates and non-aggregated fields in an "
                    "ungrouped select(); groupBy() first"
                )
            return Table(self.df.agg(*[p.col for p in parsed]))
        return Table(self.df.select(*[p.col for p in parsed]))

    def filter(self, predicate: str) -> "Table":
        p = _Parser(predicate, string_cols=_string_cols(self.df),
                    df=self.df).parse_one()
        if p.has_agg:
            raise ExpressionParserException("aggregates are not allowed in filter()")
        return Table(self.df.filter(p.col))

    def where(self, predicate: str) -> "Table":
        return self.filter(predicate)

    def as_(self, fields: str) -> "Table":
        names = [f.strip() for f in fields.split(",")]
        if len(names) != len(self.df.columns) or not all(
            re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n) for n in names
        ):
            raise ExpressionParserException(
                f"as() needs exactly {len(self.df.columns)} plain field names, "
                f"got {fields!r}"
            )
        return Table(self.df.toDF(*names))

    # --- grouping ------------------------------------------------------
    def groupBy(self, fields: str) -> "GroupedTable":
        parsed = _parse_list(fields)
        if any(p.has_agg or p.sort for p in parsed):
            raise ExpressionParserException("groupBy() takes plain grouping expressions")
        return GroupedTable(self.df, parsed)

    def distinct(self) -> "Table":
        return Table(self.df.distinct())

    # --- joins -----------------------------------------------------------
    def join(self, right: "Table", predicate: str | None = None) -> "Table":
        if predicate is None:
            return Table(self.df.crossJoin(right.df))
        return Table(self.df.join(right.df, parse_expression(predicate), "inner"))

    def leftOuterJoin(self, right: "Table", predicate: str) -> "Table":
        return Table(self.df.join(right.df, parse_expression(predicate), "left"))

    def rightOuterJoin(self, right: "Table", predicate: str) -> "Table":
        return Table(self.df.join(right.df, parse_expression(predicate), "right"))

    def fullOuterJoin(self, right: "Table", predicate: str) -> "Table":
        return Table(self.df.join(right.df, parse_expression(predicate), "full"))

    def joinLateral(
        self, table_function_call: str, predicate: str | None = None
    ) -> "Table":
        """table.scala:627 — string-form UDTF lateral join (CROSS APPLY):
        ``t.joinLateral("split(c) as (word)")`` against a table function
        registered with :func:`register_table_function` (the reference's
        ``tEnv.registerFunction("split", new Split())``).  The function
        returns an ARRAY column (of scalars for one output field,
        structs for several); the join lowers to ``explode`` — rows with
        empty output drop, the inner-join semantics of the reference.
        ``predicate`` filters the joined rows (ON clause)."""
        return self._lateral(table_function_call, predicate, outer=False)

    join_lateral = joinLateral

    def leftOuterJoinLateral(
        self, table_function_call: str, predicate: str | None = None
    ) -> "Table":
        """table.scala:662 — OUTER APPLY: rows with empty table-function
        output survive with NULL-padded fields (``explode_outer``)."""
        return self._lateral(table_function_call, predicate, outer=True)

    left_outer_join_lateral = leftOuterJoinLateral

    def _lateral(self, call: str, predicate: str | None, outer: bool) -> "Table":
        name, args, aliases = _parse_table_function_call(call)
        fn = _TABLE_FUNCTIONS.get(name.lower())
        if fn is None:
            raise ExpressionParserException(
                f"joinLateral: unknown table function {name!r} — register "
                f"it with register_table_function(name, fn) "
                f"(in scope: {sorted(_TABLE_FUNCTIONS)})"
            )
        arr = fn(*args)
        tmp = "__lateral"
        ex = F.explode_outer(arr) if outer else F.explode(arr)
        out = self.df.withColumn(tmp, ex)
        if len(aliases) == 1:
            out = out.withColumn(aliases[0], F.col(tmp)).drop(tmp)
        else:
            # 'as (a, b)' renames the function's output fields
            # POSITIONALLY (ProjectionTranslator aliasing semantics)
            dt = out.schema[tmp].dataType
            names = getattr(dt, "names", None)
            if not names or len(names) != len(aliases):
                raise ExpressionParserException(
                    f"joinLateral: {name!r} yields "
                    f"{names or dt.simpleString()} but the alias list "
                    f"names {len(aliases)} fields"
                )
            for a, f in zip(aliases, names):
                out = out.withColumn(a, F.col(tmp).getField(f))
            out = out.drop(tmp)
        t = Table(out)
        return t.filter(predicate) if predicate else t

    def where_in(self, fields: str, other: "Table") -> "Table":
        """``'a.in(tableB.select('x))`` — IN with an uncorrelated
        sub-table (expressionDsl In; SetOperatorsITCase
        testInUncorrelated): pairs ``fields`` positionally with the
        other table's output columns and lowers to a LEFT SEMI join
        (the same plan the reference's planner produces).  Chain calls
        for conjunctions ('a.in(B) && 'b.in(C))."""
        names = [f.strip() for f in fields.split(",") if f.strip()]
        ocols = other.df.columns
        if len(names) != len(ocols):
            raise ExpressionParserException(
                f"where_in: {len(names)} field(s) vs {len(ocols)} "
                f"sub-table column(s) ({names} / {ocols})"
            )
        cond = None
        for n, o in zip(names, ocols):
            c = self.df[n] == other.df[o]
            cond = c if cond is None else (cond & c)
        return Table(self.df.join(other.df, cond, "left_semi"))

    def insertInto(self, engine, sink_name: str, overwrite: bool = False) -> None:
        """table.scala:1052 Table.insertInto(tableName) — writes this
        table into a sink registered on the engine
        (Engine.register_sink); the reference resolves the name against
        its TableEnvironment the same way."""
        engine.insert_into(self.df, sink_name, overwrite=overwrite)

    insert_into = insertInto

    # --- set ops ---------------------------------------------------------
    def _union_check(self, right: "Table") -> None:
        # Union validation (plan/logical/operators.scala:320): the
        # reference's union is POSITIONAL — column counts and types
        # must match, names need not ('e' unions with 'b' fine, see
        # ExternalCatalogTest:36's auto-named projections)
        lo, ro = self.df.schema.fields, right.df.schema.fields
        if len(lo) != len(ro):
            raise ExpressionParserException(
                f"Union two tables of different column sizes: "
                f"{len(lo)} and {len(ro)}"
            )
        if any(l.dataType != r.dataType for l, r in zip(lo, ro)):
            raise ExpressionParserException(
                "Union two tables of different schema: "
                f"[{', '.join(f'({f.name}, {f.dataType.simpleString()})' for f in lo)}] and "
                f"[{', '.join(f'({f.name}, {f.dataType.simpleString()})' for f in ro)}]"
            )

    def union(self, right: "Table") -> "Table":
        self._union_check(right)
        return Table(self.df.union(right.df).distinct())

    def unionAll(self, right: "Table") -> "Table":
        self._union_check(right)
        return Table(self.df.union(right.df))

    def minus(self, right: "Table") -> "Table":
        return Table(self.df.exceptAll(right.df).distinct())

    def minusAll(self, right: "Table") -> "Table":
        return Table(self.df.exceptAll(right.df))

    def intersect(self, right: "Table") -> "Table":
        return Table(self.df.intersect(right.df))

    def intersectAll(self, right: "Table") -> "Table":
        return Table(self.df.intersectAll(right.df))

    # --- sort / limit ------------------------------------------------------
    def orderBy(self, fields: str) -> "Table":
        parsed = _parse_list(fields)
        return Table(self.df.orderBy(*[p.col for p in parsed]))

    def offset(self, n: int) -> "Table":
        return Table(self.df.offset(n))

    def fetch(self, n: int) -> "Table":
        return Table(self.df.limit(n))

    def to_df(self) -> DataFrame:
        return self.df


class GroupedTable:
    """GroupedTable.select (table.scala:1285/1314): grouping keys pass
    through, everything else must aggregate."""

    def __init__(self, df: DataFrame, keys: list[_Parsed],
                 group_window: str | None = None):
        self._df = df
        self._keys = keys
        self._group_window = group_window

    def select(self, fields: str) -> Table:
        from pyspark.errors import AnalysisException

        parsed = _parse_list(
            fields,
            group_window=self._group_window,
            string_cols=_string_cols(self._df),
            df=self._df,
        )
        # every aggregate gets a UNIQUE generated alias before agg() and
        # is projected back by exactly that name — positional matching
        # against "non-key output columns" misaligns the moment an
        # aggregate is aliased to a grouping key's name
        aggs = []
        final_cols = []
        for i, p in enumerate(parsed):
            if p.has_agg:
                gen = f"__agg_{i}"
                aggs.append(p.col.alias(gen))
                final_cols.append(F.col(gen).alias(p.name) if p.name else F.col(gen))
            else:
                # key passthrough — possibly aliased or computed over
                # keys; resolution against the aggregated frame is the
                # arbiter (only keys + __agg_* exist there)
                final_cols.append(p.col)
        grouped = self._df.groupBy(*[p.col for p in self._keys])
        out = grouped.agg(*aggs) if aggs else self._df.select(
            *[p.col for p in self._keys]
        ).distinct()
        try:
            return Table(out.select(*final_cols))
        except AnalysisException as e:
            raise ExpressionParserException(
                "GroupedTable.select: a non-aggregate expression must "
                f"reference only grouping keys ({fields!r}): {e}"
            ) from e


class _chainable:
    """Descriptor backing the reference's dual-form builder methods:
    ``Over.orderBy("t")`` (class form — fresh builder, windows.scala
    companion-object entry points) and
    ``Over.partitionBy("a").orderBy("t")`` (instance form — chained,
    mutates and returns the same builder).  A plain ``@classmethod``
    silently drops prior chain state when called on an instance."""

    def __init__(self, fn):
        self._fn = fn
        self.__doc__ = fn.__doc__

    def __get__(self, obj, cls):
        fn = self._fn

        def bound(*args, **kwargs):
            return fn(obj if obj is not None else cls(), *args, **kwargs)

        bound.__doc__ = fn.__doc__
        return bound


class Over:
    """OVER-window builder — parity with the reference's ``Over``
    (flink-table/.../api/java/windows.scala / OverWindow): chain
    ``Over.partitionBy("a").orderBy("t").preceding(...).alias("w")``
    and scope it with :meth:`Table.window`.

    ``preceding`` accepts ``"unbounded_range"`` (default; RANGE frame to
    current row incl. peers), ``"unbounded_row"`` (ROWS frame), or an
    int n (ROWS: n preceding .. current).  Time-interval ranges route
    through queries/over_windows.py's dedicated RANGE operator."""

    def __init__(self):
        self._partition: str | None = None
        self._order: str | None = None
        self._preceding: str | int = "unbounded_range"
        self._alias: str | None = None

    @_chainable
    def partitionBy(self, fields: str) -> "Over":
        self._partition = fields
        return self

    @_chainable
    def orderBy(self, fields: str) -> "Over":
        # Over.orderBy without partitionBy is legal in the reference
        # (global window — single-task at scale, like streaming ORDER BY)
        self._order = fields
        return self

    partition_by = partitionBy
    order_by = orderBy

    def preceding(self, bound: str | int) -> "Over":
        if isinstance(bound, str) and bound not in (
            "unbounded_range", "unbounded_row"
        ):
            # time-interval RANGE frame ('1.seconds' — OverWindowITCase
            # testRowTimeBoundedPartitionedRangeOver): stored as millis,
            # lowered in _spec to rangeBetween on the order column's
            # epoch millis
            ms_per = {
                "milliseconds": 1, "seconds": 1000, "minutes": 60_000,
                "hours": 3_600_000, "days": 86_400_000,
            }
            m = re.fullmatch(r"\s*(\d+)\.(\w+)\s*", bound)
            if m and m.group(2).lower() == "rows":
                self._preceding = int(m.group(1))
                return self
            if m and m.group(2).lower() in _INTERVAL_UNITS:
                unit = _INTERVAL_UNITS[m.group(2).lower()]
                self._preceding = ("range_ms", int(m.group(1)) * ms_per[unit])
                return self
            raise ExpressionParserException(
                f"Over.preceding: expected 'unbounded_range', "
                f"'unbounded_row', a non-negative int (ROWS) or a time "
                f"interval like '1.seconds' (RANGE), got {bound!r}"
            )
        if not (bound in ("unbounded_range", "unbounded_row")
                or (isinstance(bound, int) and not isinstance(bound, bool)
                    and bound >= 0)):
            raise ExpressionParserException(
                f"Over.preceding: expected 'unbounded_range', "
                f"'unbounded_row', a non-negative int (ROWS) or a time "
                f"interval like '1.seconds' (RANGE), got {bound!r}"
            )
        self._preceding = bound
        return self

    def alias(self, name: str) -> "Over":
        self._alias = name
        return self

    as_ = alias

    def _spec(self):
        from pyspark.sql import Window as W

        if self._order is None:
            raise ExpressionParserException("Over window needs orderBy(...)")
        order = [p.col for p in _parse_list(self._order)]
        w = (
            W.partitionBy(*[p.col for p in _parse_list(self._partition)])
            if self._partition is not None
            else W.partitionBy()
        )
        if isinstance(self._preceding, tuple):
            # time-interval RANGE: order on the time attribute's epoch
            # millis (NTZ cannot cast straight to long in Spark 4 — go
            # via timestamp; session tz is UTC so epochs agree), frame
            # = [t - interval, t] inclusive of peers, exactly
            # RowTimeBoundedRangeOver.scala's frame
            if len(order) != 1:
                raise ExpressionParserException(
                    "Over.preceding(time interval) needs exactly one "
                    "orderBy time attribute"
                )
            w = w.orderBy(F.unix_millis(order[0].cast("timestamp")))
            return w.rangeBetween(-self._preceding[1], W.currentRow)
        w = w.orderBy(*order)
        if self._preceding == "unbounded_range":
            return w.rangeBetween(W.unboundedPreceding, W.currentRow)
        if self._preceding == "unbounded_row":
            return w.rowsBetween(W.unboundedPreceding, W.currentRow)
        return w.rowsBetween(-int(self._preceding), W.currentRow)


class OverWindowedTable:
    """table.window(Over...) result (table.scala OverWindowedTable):
    only ``select`` is legal, with the window aliases in scope."""

    def __init__(self, df: DataFrame, windows: dict):
        self._df = df
        self._windows = windows

    def select(self, fields: str) -> Table:
        parsed = _Parser(fields, windows=self._windows,
                         string_cols=_string_cols(self._df),
                         df=self._df).parse_list()
        for p in parsed:
            if p.has_agg:
                raise ExpressionParserException(
                    "OverWindowedTable.select: aggregates must apply a "
                    "window ('b.avg over w'), bare aggregates need "
                    "groupBy()"
                )
        return Table(self._df.select(*[p.col for p in parsed]))


def _table_window(self, *overs):
    """table.scala:1118 window(overWindows: OverWindow*) and :1070
    window(groupWindow: GroupWindow): OVER windows scope aliases for
    the next select; a single group window yields a
    GroupWindowedTable."""
    if len(overs) == 1 and isinstance(overs[0], GroupWindow):
        return GroupWindowedTable(self.df, overs[0])
    if any(isinstance(o, GroupWindow) for o in overs):
        raise ExpressionParserException(
            "window(): exactly one group window, or any number of Over "
            "windows — not a mix"
        )
    windows = {}
    for o in overs:
        if o._alias is None:
            raise ExpressionParserException(
                "Over window needs .alias(name) to be referenced in select"
            )
        windows[o._alias] = o._spec()
    return OverWindowedTable(self.df, windows)


Table.window = _table_window


_INTERVAL_UNITS = {
    "millis": "milliseconds", "milli": "milliseconds",
    "seconds": "seconds", "second": "seconds",
    "minutes": "minutes", "minute": "minutes",
    "hours": "hours", "hour": "hours",
    "days": "days", "day": "days",
}


def _parse_interval(text) -> str:
    """Flink interval literal ("10.minutes") -> Spark duration string
    ("10 minutes").  Row intervals ("10.rows") route to the dedicated
    count-window operator (streaming/stateful.py:count_window_agg)."""
    if isinstance(text, str):
        m = re.fullmatch(r"\s*(\d+)\.(\w+)\s*", text)
        if m and m.group(2).lower() in _INTERVAL_UNITS:
            return f"{m.group(1)} {_INTERVAL_UNITS[m.group(2).lower()]}"
        if m and m.group(2).lower() == "rows":
            raise ExpressionParserException(
                "row-count windows: use count_window_agg "
                "(streaming/stateful.py) — SQL/Table group windows are "
                "time-based"
            )
    raise ExpressionParserException(
        f"expected a time interval like '10.minutes', got {text!r}"
    )


class GroupWindow:
    """Base for Tumble/Slide/Session (api/java/windows.scala /
    flink-table/.../api/windows.scala): holds the time attribute, the
    window spec and the alias; lowers to Spark's window()/
    session_window() grouping struct."""

    def __init__(self):
        self._on: str | None = None
        self._alias: str | None = None

    def on(self, field: str) -> "GroupWindow":
        self._on = field
        return self

    def alias(self, name: str) -> "GroupWindow":
        self._alias = name
        return self

    as_ = alias

    def _require(self):
        if self._on is None:
            raise ExpressionParserException(
                f"{type(self).__name__} window needs .on(<time attribute>)"
            )
        if self._alias is None:
            raise ExpressionParserException(
                f"{type(self).__name__} window needs .alias(name)"
            )

    def _col(self) -> Column:
        raise NotImplementedError


class Tumble(GroupWindow):
    """Tumble.over("10.minutes").on("ts").alias("w")."""

    def __init__(self, size: str):
        super().__init__()
        self._size = _parse_interval(size)

    @classmethod
    def over(cls, size: str) -> "Tumble":
        return cls(size)

    def _col(self) -> Column:
        self._require()
        return F.window(F.col(self._on), self._size)


class Slide(GroupWindow):
    """Slide.over("10.minutes").every("5.minutes").on("ts").alias("w")."""

    def __init__(self, size: str):
        super().__init__()
        self._size = _parse_interval(size)
        self._every: str | None = None

    @classmethod
    def over(cls, size: str) -> "Slide":
        return cls(size)

    def every(self, slide: str) -> "Slide":
        self._every = _parse_interval(slide)
        return self

    def _col(self) -> Column:
        self._require()
        if self._every is None:
            raise ExpressionParserException("Slide window needs .every(...)")
        return F.window(F.col(self._on), self._size, self._every)


class Session(GroupWindow):
    """Session.withGap("10.minutes").on("ts").alias("w")."""

    def __init__(self, gap: str):
        super().__init__()
        self._gap = _parse_interval(gap)

    @classmethod
    def withGap(cls, gap: str) -> "Session":
        return cls(gap)

    def _col(self) -> Column:
        self._require()
        return F.session_window(F.col(self._on), self._gap)


class GroupWindowedTable:
    """table.window(Tumble...) result (table.scala GroupWindowedTable):
    groupBy must reference the window alias; select may use w.start /
    w.end plus aggregates."""

    def __init__(self, df: DataFrame, gw: GroupWindow):
        gw._require()
        self._df = df
        self._gw = gw

    def groupBy(self, fields: str) -> "GroupedTable":
        parsed = _parse_list(fields)
        keys: list[_Parsed] = []
        saw = False
        for p in parsed:
            if p.name == self._gw._alias:
                keys.append(
                    _Parsed(self._gw._col().alias(self._gw._alias),
                            name=self._gw._alias)
                )
                saw = True
            else:
                keys.append(p)
        if not saw:
            raise ExpressionParserException(
                f"GroupWindowedTable.groupBy must include the window "
                f"alias {self._gw._alias!r} (got {fields!r})"
            )
        return GroupedTable(self._df, keys, group_window=self._gw._alias)
