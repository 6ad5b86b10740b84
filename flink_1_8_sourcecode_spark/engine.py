"""TableEnvironment-style facade.

Reference parity: TableEnvironment.sqlQuery/registerTable/registerFunction
(flink-table/.../table/api/TableEnvironment.scala:740,439).  Steps 1-5 of
the reference's query lifecycle (parse/validate/rel/optimize/translate,
SURVEY.md §3.1) are all ``spark.sql`` — only the Flink-specific SQL
spellings go through the pre-rewrite layer.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

from flink_1_8_sourcecode_spark.catalog import TABLES, table
from flink_1_8_sourcecode_spark.plans import rewrite_flink_sql
from flink_1_8_sourcecode_spark.session import get_spark

from flink_1_8_sourcecode_spark.plans.sql_rewrite import mask_literals as _mask_literals  # noqa: E402

_MR_TOKEN = re.compile(r"\bMATCH_RECOGNIZE\b", re.IGNORECASE)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_$.]*\Z")

# keywords that can directly follow a table reference — never aliases
_POST_TABLE_KEYWORDS = frozenset(
    """where group order having limit on using join left right full inner
    cross outer union intersect except minus as when natural semi anti
    lateral window qualify offset fetch from select distinct by values
    tablesample asc desc and or not in is between like match_recognize
    set""".split()
)

# clause keywords that terminate a FROM region at its own paren depth
_FROM_REGION_END = re.compile(
    r"(WHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW|QUALIFY|UNION|INTERSECT"
    r"|EXCEPT|MINUS|SELECT|SET|VALUES)\b",
    re.IGNORECASE,
)

# within a FROM region (nested parens blanked): leading/comma table
# entries "<path> [AS] <alias>", "JOIN <path> [AS] <alias>", and the
# subquery form ") [AS] <alias>"
_REGION_ALIAS_PATS = (
    re.compile(
        r"(?:^|,|\bJOIN\b)\s*([\w.]+)\s+(?:\bAS\s+)?(\w+)", re.IGNORECASE
    ),
    re.compile(r"\)\s*(?:\bAS\s+)?(\w+)", re.IGNORECASE),
)


def _from_regions(masked_sql: str):
    """``(start_offset, text)`` for each FROM-clause region of the
    (literal-masked) statement, with nested paren INTERIORS blanked —
    subquery close-parens survive so the ``) alias`` form stays
    matchable, but nothing inside a subquery or function call (e.g. a
    SELECT-list ``AS`` alias) can leak into the enclosing region.
    Region text aligns 1:1 with ``masked_sql[start:]`` so match
    offsets map back to absolute statement positions.  Nested FROMs
    produce their own regions from their own ``FROM`` occurrences."""
    for m in re.finditer(r"\bFROM\b", masked_sql, re.IGNORECASE):
        i, depth, buf = m.end(), 0, []
        while i < len(masked_sql):
            ch = masked_sql[i]
            if ch == "(":
                depth += 1
                buf.append(" ")
            elif ch == ")":
                if depth == 0:
                    break  # closes the subquery this FROM lives in
                depth -= 1
                buf.append(")" if depth == 0 else " ")
            elif depth > 0:
                buf.append(" ")
            else:
                if ch.isalpha() and _FROM_REGION_END.match(masked_sql, i):
                    prev = masked_sql[i - 1]
                    if not (prev.isalnum() or prev in "_."):
                        break
                buf.append(ch)
            i += 1
        yield m.end(), "".join(buf)


def _table_alias_bindings(masked_sql: str) -> list[tuple[str, int]]:
    """``(alias_lower, absolute_position)`` for each FROM/JOIN table
    alias binding of the (literal-masked) statement.  Only FROM regions
    are scanned (depth-aware, nested content blanked), so SELECT-list
    expression aliases can never shadow a catalog."""
    out: list[tuple[str, int]] = []
    for start, region in _from_regions(masked_sql):
        for pat in _REGION_ALIAS_PATS:
            for m in pat.finditer(region):
                g = m.re.groups
                cand = m.group(g).lower()
                if cand not in _POST_TABLE_KEYWORDS:
                    out.append((cand, start + m.start(g)))
    return out


def _paren_spans(masked_sql: str) -> list[tuple[int, int]]:
    """All matched ``(open, close)`` paren index pairs."""
    spans: list[tuple[int, int]] = []
    stack: list[int] = []
    for i, ch in enumerate(masked_sql):
        if ch == "(":
            stack.append(i)
        elif ch == ")" and stack:
            spans.append((stack.pop(), i))
    return spans


def _shadow_spans(masked_sql: str, catalog_names_lower: set[str]):
    """For each table alias that spells a registered catalog name, the
    statement span in which it SHADOWS the catalog: its own query
    block — the innermost paren pair enclosing the binding, or the
    whole statement for a top-level alias.  Calcite scope resolution:
    an alias is visible in its block and that block's (correlated)
    subqueries, but NOT in the enclosing query — so an alias bound
    inside a subquery must not block catalog.db.table resolution
    outside it."""
    spans = _paren_spans(masked_sql)
    whole = (0, len(masked_sql))
    out: dict[str, list[tuple[int, int]]] = {}
    for name, pos in _table_alias_bindings(masked_sql):
        if name not in catalog_names_lower:
            continue
        best = whole
        for a, b in spans:
            if a < pos <= b and b - a < best[1] - best[0]:
                best = (a, b)
        out.setdefault(name, []).append(best)
    return out


class TableSink:
    """A registered write target (TableEnvironment.registerTableSink
    parity) — just the DataFrameWriter spec; no driver-side writer."""

    def __init__(
        self,
        fmt: str,
        path: str,
        write_options: dict | None = None,
        read_options: dict | None = None,
        schema: str | None = None,
        partition_by: list[str] | None = None,
        fields: list | None = None,
    ):
        self.fmt = fmt
        self.path = path
        self.write_options = dict(write_options or {})
        self.read_options = dict(read_options or {})
        self.schema = schema
        self.partition_by = list(partition_by or [])
        # declared field dicts (descriptor sinks): enables insert-time
        # arity validation + positional casts + TIME lexical render
        self.fields = list(fields or []) or None


class Engine:
    """The engine's ExecutionEnvironment + TableEnvironment in one."""

    def __init__(
        self, spark: SparkSession | None = None, mr_watermark_delay: str = "10 minutes"
    ):
        self.spark = spark or get_spark()
        # watermark delay used when MATCH_RECOGNIZE routes over a
        # STREAMING source (the reference takes it from the source's
        # assigned watermarks; Structured Streaming needs it stated)
        self.mr_watermark_delay = mr_watermark_delay
        # temporal table functions (Table.createTemporalTableFunction
        # registered via registerFunction, TableEnvironment.scala) — the
        # LATERAL TABLE SQL routing resolves names here
        self._ttfs: dict = {}
        # registered table sinks (TableEnvironment.registerTableSink,
        # TableEnvironment.scala:586) — INSERT INTO / insert_into route
        # writes here
        self._sinks: dict[str, "TableSink"] = {}
        # registered external catalogs
        # (TableEnvironment.registerExternalCatalog, :413) — sql() and
        # table() resolve catalog.db.table names through these
        self._external_catalogs: dict = {}

    # --- catalog -----------------------------------------------------
    def register_testdata(self, sf_dir: str) -> None:
        for t in TABLES:
            self.register(t, table(self.spark, sf_dir, t))

    def register(self, name: str, df: DataFrame) -> None:
        """registerTable (TableEnvironment.scala:439)."""
        df.createOrReplaceTempView(name)

    def table(self, name: str) -> DataFrame:
        """A table by name — plain session-catalog names, or a
        qualified ``catalog.db.table`` path rooted at a registered
        external catalog (the reference's ``scan`` varargs form is
        :meth:`scan`)."""
        parts = name.split(".")
        if len(parts) > 1 and parts[0] in self._external_catalogs:
            return self.scan(*parts)
        return self.spark.table(name)

    # --- descriptor / connect API ----------------------------------------
    def connect(self, connector_descriptor):
        """TableEnvironment.connect (TableEnvironment.scala:656): start
        a declarative source/sink registration chain —
        ``connect(FileSystem().path(p)).with_format(OldCsv()...)
        .with_schema(Schema()...).register_table_source(name)``.
        The chain lowers onto spark.read / readStream and the engine's
        sink registry (descriptors.py)."""
        from flink_1_8_sourcecode_spark.descriptors import (
            ConnectTableDescriptor,
        )

        return ConnectTableDescriptor(self, connector_descriptor)

    # --- external catalogs ---------------------------------------------
    def register_external_catalog(self, name: str, catalog) -> None:
        """registerExternalCatalog (TableEnvironment.scala:413): attach
        a catalog tree under ``name``; ``catalog.db.table`` names become
        resolvable in :meth:`sql`, :meth:`table` and :meth:`scan`."""
        self._external_catalogs[name] = catalog

    def get_registered_external_catalog(self, name: str):
        """getRegisteredExternalCatalog (TableEnvironment.scala:428);
        unknown names throw ExternalCatalogNotExistException (:431)."""
        from flink_1_8_sourcecode_spark.external_catalog import (
            ExternalCatalogNotExistException,
        )

        cat = self._external_catalogs.get(name)
        if cat is None:
            raise ExternalCatalogNotExistException(name)
        return cat

    def scan(self, *path: str) -> DataFrame:
        """TableEnvironment.scan(path...): resolve a qualified name —
        first segment an external catalog (then db path + table), or a
        plain session-catalog table for the 1-segment form."""
        if not path:
            raise ValueError("scan() needs at least one path segment")
        if len(path) == 1:
            return self.spark.table(path[0])
        cat = self.get_registered_external_catalog(path[0])
        entry = cat.resolve(list(path[1:]))
        from flink_1_8_sourcecode_spark.descriptors import (
            ExternalCatalogTable,
        )

        if isinstance(entry, ExternalCatalogTable):
            # descriptor-defined catalog table: open through its spec
            return entry.table(self.spark)
        return entry

    def _route_external_catalogs(self, query: str, created: list[str]) -> str:
        """Resolve ``catalog.db.table`` names in a SQL statement against
        the registered external catalogs (the reference plugs an
        ExternalCatalogSchema into Calcite; Spark's session catalog has
        no Python plug point, so the resolution happens in this
        engine's existing pre-rewrite layer): each qualified name
        rooted at a registered catalog is materialized as a temp view
        and substituted.  Views are parse-time scaffolding — sql()
        drops them once the statement's plan is captured.  String
        literals are masked first so a '...' containing a dotted name
        is never rewritten.  A FROM/JOIN-clause alias that spells a
        registered catalog name SHADOWS the catalog inside its
        statement (Calcite scope resolution lets the in-scope alias
        win), so ``SELECT t.x FROM mytable t`` stays valid after
        ``register_external_catalog("t", ...)``."""
        if not self._external_catalogs:
            return query
        from flink_1_8_sourcecode_spark.external_catalog import (
            CatalogNotExistException,
            TableNotExistException,
        )

        masked = _mask_literals(query)
        shadow = _shadow_spans(
            masked, {n.lower() for n in self._external_catalogs}
        )
        names = "|".join(re.escape(n) for n in self._external_catalogs)
        pat = re.compile(rf"\b(?P<path>(?:{names})(?:\.\w+)+)")
        out: list[str] = []
        last = 0
        for m in pat.finditer(masked):
            path = m.group("path").split(".")
            if any(
                a <= m.start() <= b
                for a, b in shadow.get(path[0].lower(), ())
            ):
                continue  # in-scope alias wins over the catalog schema
            # longest prefix that resolves to a table wins; trailing
            # segments are COLUMN references (Calcite resolves
            # test.db2.tb2.d as column d of test.db2.tb2 the same way)
            df = None
            first_err = None
            for cut in range(len(path), 1, -1):
                try:
                    df = self.scan(*path[:cut])
                    break
                except (TableNotExistException, CatalogNotExistException) as e:
                    # a longer path fails on its TAIL segments (column
                    # refs, not catalog objects) — keep shrinking; the
                    # 2-segment error is the authoritative one
                    first_err = e if cut == 2 else first_err
                    if cut == 2:
                        raise first_err
            prefix = ".".join(path[:cut])
            view = "__extcat_" + hashlib.md5(prefix.encode()).hexdigest()[:12]
            df.createOrReplaceTempView(view)
            created.append(view)
            out.append(query[last:m.start()])
            out.append(view + m.group("path")[len(prefix):])
            last = m.end()
        out.append(query[last:])
        return "".join(out)

    # --- sinks -------------------------------------------------------
    def register_sink(
        self,
        name: str,
        fmt: str,
        path: str,
        write_options: dict | None = None,
        read_options: dict | None = None,
        schema: str | None = None,
        partition_by: list[str] | None = None,
        fields: list | None = None,
    ) -> None:
        """registerTableSink (TableEnvironment.scala:586; CsvTableSink
        in flink-table/.../sinks/CsvTableSink.scala): bind ``name`` to a
        (format, path) write target for :meth:`insert_into` and
        ``sql("INSERT INTO name ...")``.

        Spark-first: the sink is a ``DataFrameWriter`` spec, so every
        format Spark writes distributes for free (parquet/csv/json/orc
        here; no driver-side writer).  ``write_options`` /
        ``read_options`` pass through (e.g. ``{"delimiter": "|"}`` for
        the CsvTableSink fieldDelim); ``schema`` (DDL string) makes
        text formats round-trippable via :meth:`read_sink` without
        inference; ``partition_by`` writes a hive-partitioned layout so
        downstream scans partition-prune.
        """
        if fmt not in ("parquet", "csv", "json", "orc"):
            raise NotImplementedError(
                f"register_sink: format {fmt!r} not supported "
                "(parquet/csv/json/orc; Kafka/JDBC sinks live in "
                "streaming/kafka.py and sources/jdbc.py)"
            )
        self._sinks[name] = TableSink(
            fmt, path, write_options, read_options, schema, partition_by,
            fields,
        )

    def insert_into(
        self, df: DataFrame, sink_name: str, overwrite: bool = False
    ) -> None:
        """Table.insertInto (flink-table/.../table.scala:1052): write a
        result into a registered sink.  ``overwrite=False`` appends
        (Flink 1.8 CsvTableSink overwrite mode maps to True).  A
        STREAMING DataFrame must go through streaming/sinks.py (the
        exactly-once StreamingFileSink path), loudly.

        A qualified ``catalog.db.table`` name rooted at a registered
        external catalog writes through that table's descriptor spec
        (ExternalCatalogInsertTest.scala:48 ``insertInto("test.db3.
        tb3")``) — the catalog table must be descriptor-defined
        (ExternalCatalogTable), since a plain DataFrame entry has no
        write target."""
        parts = sink_name.split(".")
        if len(parts) > 1 and parts[0] in self._external_catalogs:
            from flink_1_8_sourcecode_spark.descriptors import (
                ExternalCatalogTable,
            )

            entry = self._external_catalogs[parts[0]].resolve(parts[1:])
            if not isinstance(entry, ExternalCatalogTable):
                raise NotImplementedError(
                    f"insert_into: catalog table {sink_name!r} is not "
                    "descriptor-defined — only ExternalCatalogTable "
                    "entries (connector + format) have a write target"
                )
            if df.isStreaming:
                raise NotImplementedError(
                    "insert_into: streaming writes go through "
                    "streaming/sinks.py (StreamingFileSink parity)"
                )
            entry.write(df, overwrite=overwrite)
            return
        sink = self._sinks.get(sink_name)
        if sink is None:
            raise NotImplementedError(
                f"insert_into: no sink {sink_name!r} registered "
                f"(Engine.register_sink; have {sorted(self._sinks)})"
            )
        if df.isStreaming:
            raise NotImplementedError(
                "insert_into: streaming writes go through "
                "streaming/sinks.py (StreamingFileSink parity), not the "
                "batch sink registry"
            )
        if sink.fields:
            # descriptor-declared sink: arity check + positional casts
            # + TIME lexical render (same contract as catalog tables)
            from flink_1_8_sourcecode_spark.descriptors import (
                conform_to_schema,
            )

            df = conform_to_schema(df, sink.fields)
        w = df.write.format(sink.fmt).mode("overwrite" if overwrite else "append")
        for k, v in (sink.write_options or {}).items():
            w = w.option(k, v)
        if sink.partition_by:
            # hive-style layout: downstream reads partition-prune on
            # these columns for free (the 100 TB sink layout decision)
            w = w.partitionBy(*sink.partition_by)
        w.save(sink.path)

    def read_sink(self, sink_name: str) -> DataFrame:
        """Read a registered sink back as a table (the reference's
        round-trip: a CsvTableSink re-registered as a CsvTableSource)."""
        sink = self._sinks.get(sink_name)
        if sink is None:
            raise NotImplementedError(
                f"read_sink: no sink {sink_name!r} registered "
                f"(have {sorted(self._sinks)})"
            )
        r = self.spark.read.format(sink.fmt)
        for k, v in (sink.read_options or {}).items():
            r = r.option(k, v)
        if sink.schema is not None:
            r = r.schema(sink.schema)
        out = r.load(sink.path)
        if sink.fields and any(f.get("time") for f in sink.fields):
            # TIME fields read lexically; surface the int-millis
            # convention on the way back (same as Schema.apply_to)
            from pyspark.sql import functions as F

            from flink_1_8_sourcecode_spark.descriptors import (
                time_millis_from_lexical,
            )

            out = out.select(
                *[
                    time_millis_from_lexical(F.col(f["name"])).alias(
                        f["name"]
                    )
                    if f.get("time") else F.col(f["name"])
                    for f in sink.fields
                ]
            )
        return out

    # sink may be a plain name, a qualified catalog.db.table path, or
    # the reference's backtick-quoted form (`test.db3.tb3` —
    # ExternalCatalogInsertTest.scala:57)
    _INSERT_RE = re.compile(
        r"^\s*INSERT\s+(?P<mode>INTO|OVERWRITE)\s+(?:TABLE\s+)?"
        r"`?(?P<sink>[\w.]+)`?\s+(?P<body>SELECT\b.*|VALUES\b.*|\(.*)$",
        re.IGNORECASE | re.DOTALL,
    )

    def sql_update(self, stmt: str) -> None:
        """sqlUpdate (TableEnvironment.scala:756): execute an
        ``INSERT INTO <registered sink> <query>`` statement — the way
        every reference job ends.  ``INSERT OVERWRITE`` (Spark/Hive
        spelling) maps to an overwriting write; the query body goes
        through :meth:`sql`, so TUMBLE/MATCH_RECOGNIZE/LATERAL inputs
        all work in the INSERT position."""
        m = self._INSERT_RE.match(stmt)
        if m is None:
            raise NotImplementedError(
                "sql_update: only INSERT INTO/OVERWRITE <sink> <query> "
                f"statements are supported, got {stmt!r} (DDL belongs to "
                "register/register_sink; queries to sql())"
            )
        body = m.group("body").strip()
        if body.startswith("(") and body.endswith(")"):
            # strip the outer parens ONLY if they are one matching pair
            # ("(A) UNION (B)" must stay intact)
            depth = 0
            wraps = True
            for i, ch in enumerate(body):
                depth += 1 if ch == "(" else (-1 if ch == ")" else 0)
                if depth == 0 and i < len(body) - 1:
                    wraps = False
                    break
            if wraps:
                body = body[1:-1]
        self.insert_into(
            self.sql(body),
            m.group("sink"),
            overwrite=m.group("mode").upper() == "OVERWRITE",
        )

    # --- SQL ---------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """sqlQuery (TableEnvironment.scala:740) with the Flink-SQL
        pre-rewrite (TUMBLE/HOP/SESSION -> window()) and SQL
        MATCH_RECOGNIZE routing (DataStreamMatch.scala:65, where the
        planner accepts arbitrary relational input): each ``FROM <src>
        MATCH_RECOGNIZE (<clause>)`` runs the CEP engine on ``<src>``
        and splices the result back in as a view, so the outer SELECT
        stays plain Spark SQL.  ``<src>`` may be a registered table
        name, ``<table> [AS] <alias>``, or a derived table ``(SELECT
        ...) [AS] [<alias>]`` (itself routed recursively, so nested
        MATCH_RECOGNIZE works); multiple clauses per statement are
        handled left-to-right.  Unsupported source shapes (e.g. a join
        in the table position) raise NotImplementedError with the
        offending text instead of falling through to an opaque Spark
        parse error.

        A STREAMING source (a temp view over a readStream DataFrame)
        dispatches the CEP engine's streaming matcher and yields a
        streaming result.  The ``__mr_*`` splice views are dropped once
        the statement is resolved — the returned DataFrame captured its
        plan at creation, so the views are pure parse-time scaffolding
        and must not accumulate in the session catalog.

        An ``INSERT INTO/OVERWRITE <registered sink>`` statement
        delegates to :meth:`sql_update` (the reference splits these
        across sqlQuery/sqlUpdate; one entry point is kinder) and
        returns the sink read back — so a round-trip is one call."""
        if self._INSERT_RE.match(query):
            self.sql_update(query)
            sink = self._INSERT_RE.match(query).group("sink")
            parts = sink.split(".")
            if len(parts) > 1 and parts[0] in self._external_catalogs:
                return self.scan(*parts)  # catalog sink reads back via scan
            return self.read_sink(sink)
        created: list[str] = []
        try:
            query = self._route_external_catalogs(query, created)
            query = self._route_lateral_temporal(query, created)
            query = self._route_match_recognize(query, created)
            return self.spark.sql(rewrite_flink_sql(query))
        finally:
            for view in created:
                self.spark.catalog.dropTempView(view)

    def register_temporal_table_function(self, name: str, ttf) -> None:
        """registerFunction for a TemporalTableFunction
        (TableEnvironment.scala registerFunction overload for
        Table.createTemporalTableFunction results): makes
        ``LATERAL TABLE (<name>(<probe>.<time_col>))`` resolvable in
        ``sql``."""
        self._ttfs[name.lower()] = ttf

    # the optional trailing alias must NOT swallow the next SQL keyword
    # when the alias is omitted (e.g. "... (rates(p.ts)) WHERE x > 5")
    _SQL_KEYWORDS = (
        "WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|JOIN|ON|"
        "LEFT|RIGHT|FULL|INNER|CROSS|MATCH_RECOGNIZE"
    )
    _LATERAL_RE = re.compile(
        r"FROM\s+(?P<tbl>\w+)\s+(?:AS\s+)?(?P<palias>\w+)\s*,\s*"
        r"LATERAL\s+TABLE\s*\(\s*(?P<fn>\w+)\s*\(\s*"
        r"(?:(?P<q>\w+)\.)?(?P<tcol>\w+)\s*\)\s*\)"
        rf"(?:\s+(?:AS\s+)?(?!(?:{_SQL_KEYWORDS})\b)(?P<ralias>\w+))?",
        re.IGNORECASE,
    )

    def _route_lateral_temporal(self, query: str, created: list[str]) -> str:
        """Route Flink 1.8's temporal-table-function SQL join —
        ``FROM Orders [AS] o, LATERAL TABLE (rates(o.rowtime)) [AS] r``
        (docs: temporal table joins; planner
        DataStreamTemporalTableJoin / TemporalRowtimeJoin.scala) — by
        splicing in the as-of join with INNER semantics (a probe with
        no valid version emits nothing, exactly the empty-correlate
        behavior of LATERAL TABLE).

        Supported shape: the statement's FROM is exactly the pair
        ``<table> <alias>, LATERAL TABLE (<ttf>(<alias>.<time_col>))
        [<alias2>]``; the spliced view exposes the probe's columns, the
        version payload, and the history key under ITS name (when that
        name doesn't collide with a probe column), so both aliases'
        qualified references keep resolving after the alias prefixes
        are stripped.  Anything fancier raises readably."""
        from flink_1_8_sourcecode_spark.operators.joins import temporal_join

        while True:
            masked = _mask_literals(query)
            m = self._LATERAL_RE.search(masked)
            if m is None:
                if re.search(r"\bLATERAL\s+TABLE\b", masked, re.IGNORECASE):
                    raise NotImplementedError(
                        "LATERAL TABLE: supported shape is FROM <table> "
                        "<alias>, LATERAL TABLE (<ttf>(<alias>.<time_col>)) "
                        f"[<alias>] — cannot parse {query!r}"
                    )
                return query
            fn = m.group("fn").lower()
            ttf = self._ttfs.get(fn)
            if ttf is None:
                raise NotImplementedError(
                    f"LATERAL TABLE: {m.group('fn')!r} is not a registered "
                    "temporal table function "
                    "(Engine.register_temporal_table_function)"
                )
            palias = m.group("palias")
            if m.group("q") and m.group("q") != palias:
                raise NotImplementedError(
                    f"LATERAL TABLE: the time argument must be the probe "
                    f"alias's column ({palias}.<col>), got "
                    f"{m.group('q')}.{m.group('tcol')}"
                )
            probe = self.table(m.group("tbl"))
            history = ttf.history
            right_cols = [
                c for c in history.columns if c not in (ttf.key, ttf.time_attr)
            ]
            clash = sorted(set(right_cols) & set(probe.columns))
            if clash:
                # asof_join's withColumn would silently REPLACE the
                # probe's column — refuse instead of returning wrong data
                raise NotImplementedError(
                    "LATERAL TABLE: version payload column(s) "
                    f"{clash} collide with probe columns; rename one side "
                    "(the spliced view is alias-free, so both sides' "
                    "columns must be distinct)"
                )
            if ttf.key not in probe.columns:
                right_cols.append(ttf.key)  # expose r.<key> in the view
            out = temporal_join(
                probe, ttf, probe_time=m.group("tcol"),
                right_cols=right_cols, how="inner",
            )
            digest = hashlib.md5(masked[m.start(): m.end()].encode()).hexdigest()[:8]
            view = f"__tt_{digest}"
            out.createOrReplaceTempView(view)
            created.append(view)
            query = query[: m.start()] + f"FROM {view}" + query[m.end():]
            # strip the now-dangling alias qualifiers (literal-safe)
            aliases = [palias] + ([m.group("ralias")] if m.group("ralias") else [])
            alias_re = re.compile(
                rf"\b({'|'.join(map(re.escape, aliases))})\.(\w+)"
            )
            parts = re.split(r"('(?:[^']|'')*')", query)
            query = "".join(
                p if i % 2 else alias_re.sub(r"\2", p)
                for i, p in enumerate(parts)
            )

    def _route_match_recognize(self, query: str, created: list[str]) -> str:
        from flink_1_8_sourcecode_spark.cep.match_recognize import match_recognize
        from flink_1_8_sourcecode_spark.plans.sql_rewrite import _find_call

        while True:
            masked = _mask_literals(query)
            m = _MR_TOKEN.search(masked)
            if not m:
                return query
            # --- forward: the (<clause>) after the token ---------------
            open_paren = masked.find("(", m.end())
            if open_paren == -1 or masked[m.end() : open_paren].strip():
                raise NotImplementedError(
                    "SQL MATCH_RECOGNIZE: expected '(' after MATCH_RECOGNIZE near "
                    f"{query[m.start(): m.end() + 30]!r}"
                )
            close = _find_call(masked, open_paren)
            clause = query[open_paren + 1 : close - 1]
            # --- backward: the source in the table position ------------
            from_start, src_df, src_text = self._parse_mr_source(query, masked, m.start())
            out = match_recognize(
                src_df, clause, watermark_delay=self.mr_watermark_delay
            )
            digest = hashlib.md5((src_text + clause).encode()).hexdigest()[:8]
            view = f"__mr_{digest}"
            out.createOrReplaceTempView(view)
            created.append(view)
            # a trailing "AS alias" after the close paren keeps working —
            # the view name simply takes the table position
            query = query[:from_start] + f"FROM {view}" + query[close:]

    def _parse_mr_source(self, query: str, masked: str, mr_start: int):
        """Parse backward from a MATCH_RECOGNIZE token for its source
        relation.  Returns (index of FROM, source DataFrame, source text).
        Accepted shapes::

            FROM <table> MATCH_RECOGNIZE(...)
            FROM <table> [AS] <alias> MATCH_RECOGNIZE(...)
            FROM (<subquery>) [AS] [<alias>] MATCH_RECOGNIZE(...)
        """

        def unsupported(reason: str):
            ctx = query[max(0, mr_start - 60) : mr_start + 20].strip()
            return NotImplementedError(
                f"SQL MATCH_RECOGNIZE: {reason} near {ctx!r}; supported sources: "
                "FROM <table> [alias] MATCH_RECOGNIZE(...), "
                "FROM (<subquery>) [alias] MATCH_RECOGNIZE(...)"
            )

        def prev_token(end: int):
            """(token, start_index) of the token ending right before
            ``end`` in the masked text; token is an identifier or ')'."""
            k = end - 1
            while k >= 0 and masked[k].isspace():
                k -= 1
            if k < 0:
                return None, -1
            if masked[k] == ")":
                return ")", k
            j = k
            while j >= 0 and (masked[j].isalnum() or masked[j] in "_$."):
                j -= 1
            if j == k:
                return masked[k], k
            return query[j + 1 : k + 1], j + 1

        def expect_from(end: int) -> int:
            tok, at = prev_token(end)
            if tok is None or tok.upper() != "FROM":
                raise unsupported(
                    f"source must directly follow FROM (found {tok!r} instead)"
                )
            return at

        def derived(close_at: int):
            # derived table: find the matching open paren backward
            depth = 0
            open_at = -1
            for i in range(close_at, -1, -1):
                if masked[i] == ")":
                    depth += 1
                elif masked[i] == "(":
                    depth -= 1
                    if depth == 0:
                        open_at = i
                        break
            if open_at == -1:
                raise unsupported("unbalanced parentheses in the table position")
            from_at = expect_from(open_at)
            sub = query[open_at + 1 : close_at]
            # recurse through self.sql so nested MATCH_RECOGNIZE and
            # Flink-SQL spellings inside the subquery keep working
            return from_at, self.sql(sub), sub

        def is_ident(t) -> bool:
            return isinstance(t, str) and bool(_IDENT.match(t))

        # backward grammar: [alias [AS]] ( ')' derived | table ) FROM
        tok, at = prev_token(mr_start)
        if tok == ")":
            return derived(at)  # (subquery) with no alias
        if not is_ident(tok):
            raise unsupported(f"cannot parse the table position (stopped at {tok!r})")
        nxt, nat = prev_token(at)
        if is_ident(nxt) and nxt.upper() == "FROM":
            return nat, self.table(tok), tok  # plain "FROM table"
        if is_ident(nxt) and nxt.upper() == "AS":
            rel, rat = prev_token(nat)  # "... AS alias": rel sits before AS
        else:
            rel, rat = nxt, nat  # "... alias" without AS
        if rel == ")":
            return derived(rat)  # "(subquery) [AS] alias"
        if is_ident(rel):
            from_at = expect_from(rat)
            return from_at, self.table(rel), rel  # "table [AS] alias"
        raise unsupported(f"cannot parse the table position (stopped at {rel!r})")

    # --- functions ---------------------------------------------------
    def register_function(self, name: str, fn, return_type=None) -> None:
        """registerFunction (ScalarFunction.java:49 parity)."""
        self.spark.udf.register(name, fn, return_type)

    # --- plans ---------------------------------------------------------
    def explain(self, df_or_sql, extended: bool = False) -> str:
        """TableEnvironment.explain (TableEnvironment.scala:684): the
        plan of a Table/DataFrame or a SQL string as TEXT — the
        reference returns abstract syntax tree + optimized logical +
        physical; here Spark's formatted physical plan (plus the
        analyzed/optimized logical plans when ``extended``), which is
        the same three-stage story under Catalyst naming."""
        df = self.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
        qe = df._jdf.queryExecution()
        if extended:
            return qe.toString()
        return qe.explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
