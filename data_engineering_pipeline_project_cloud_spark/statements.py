"""SQL statement front-end for the lakehouse surface (``graft_sql``).

The reference's own idiom is SQL — its entire transform engine is one
SQL string handed to the warehouse (reference
``transform-complex-full.py:14-224``) — and every Delta-shaped DML/DDL
this engine implements is SQL-first in the systems users come from
(``spark.sql("UPDATE t SET ...")``).  This module closes that
ergonomics gap: ``graft_sql(spark, statement)`` parses the statement
forms below and dispatches to the EXISTING, tested Python APIs in
``sources.manifest_source`` with zero new write-path behavior — the
parser is a thin translation layer, never an engine.

Table references are backtick-quoted filesystem paths (the Delta
``delta.`/path/to/table``` convention, scheme-prefix optional) or —
round 10 — CATALOG NAMES registered in the metastore-lite
(``sources.metastore``): ``CREATE TABLE orders LOCATION '/data/o'``
once, then ``UPDATE orders SET ...`` and ``SELECT ... FROM
graft.orders`` everywhere; ``SHOW TABLES`` / ``SHOW VIEWS`` list entries (``SHOW
TBLPROPERTIES `t``` lists table properties), ``DROP
TABLE [IF EXISTS] name`` forgets one (managed tables — created by a
name-form CTAS without LOCATION — drop their data too; external
locations are never touched).  ``CREATE [OR REPLACE] VIEW name AS
<query>`` stores SQL in the same namespace; ``graft.name`` view
references expand recursively at query time (cycle-capped), always
reflecting the CURRENT member tables; ``DROP VIEW name``.  Catalog
state is CAS-versioned on disk and survives a fresh process.

::

    graft_sql(spark, "UPDATE `/data/orders` SET total = total * 0.9 "
                     "WHERE status = 'F'")
    graft_sql(spark, "SELECT status, count(*) AS n "
                     "FROM graft.`/data/orders` GROUP BY status")

Supported statements (each returns a DataFrame; DML/DDL return a
one-row operation summary, queries return their rows):

* ``SELECT`` / ``WITH`` — any Spark SQL; ``graft.`path``` (optionally
  ``VERSION AS OF n`` / ``TIMESTAMP AS OF '<ts>'``) references
  resolve to manifest-table reads.
* ``INSERT INTO | OVERWRITE `t` <query>`` — append/replace through
  ``write_frame`` conforming BY POSITION to the table schema.
  Casts follow the engine's non-ANSI Spark posture: an un-castable
  value stores NULL rather than erroring (unlike
  ``spark.sql.ansi.enabled`` / Delta store-assignment); guard with
  CHECK constraints where silent NULLs would be wrong.
* ``INSERT INTO `t` REPLACE WHERE col BETWEEN lo AND hi | col = lit
  <query>`` (round 11, Delta's replaceWhere backfill) →
  ``overwrite_where``: one atomic commit replaces exactly the
  scope's rows; file pruning keeps the rewrite O(slice).  The scope
  grammar is deliberately the range form stats pruning understands.
* ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] `t` AS <query>`` —
  CTAS via ``write_manifest_table`` (plain CREATE refuses an
  existing table; OR REPLACE overwrites; IF NOT EXISTS no-ops).
* ``CREATE TABLE `dst` SHALLOW|DEEP CLONE `src` [VERSION AS OF n |
  TIMESTAMP AS OF '<ts>']`` (round 11) → ``clone_manifest``
  (shallow: zero-copy file references; deep: hard-link/copy,
  vacuum-immune), and ``CREATE TABLE `dst` LIKE `src``` — an empty
  table carrying the source's full declared contract, identity
  definitions restarting at their declared START.  Both work with
  catalog names (the clone registers MANAGED).
* ``UPDATE `t` SET c = e, ... [WHERE p]`` → ``update_manifest``.
* ``DELETE FROM `t` [WHERE p]`` → ``delete_where``; with the
  ``enableDeletionVectors`` table property set, ``delete_where_dv``
  (merge-on-read positions, CoW fallback past the mask threshold).
* UPDATE/DELETE predicates may contain SUBQUERIES (round 10):
  ``WHERE k IN (SELECT ...)``, ``NOT IN``, correlated
  ``EXISTS (SELECT ... WHERE x.k = k)``, scalar subqueries — planned
  through ``spark.sql`` as distributed semi/anti joins with exact
  ANSI semantics (NOT IN null-sensitivity included); subqueries may
  reference ``graft.`path``` tables.
* ``TRUNCATE [TABLE] `t``` → ``truncate_manifest`` (metadata-only;
  schema and contracts survive, time travel below still works).
* ``CONVERT TO [GRAFT] `dir``` → ``convert_to_manifest`` (adopt an
  existing plain-parquet directory in place — footer stats, one
  CAS commit, zero rewrite; Hive layouts refused, see the API).
* ``MERGE [WITH SCHEMA EVOLUTION] INTO `t` [AS] a USING <src> [AS] b
  ON a.k = b.k [AND ...]``
  with the FULL Delta clause matrix (round 10): ordered,
  optionally-conditioned ``WHEN MATCHED [AND c] THEN UPDATE SET *
  | UPDATE SET col = expr, ... | DELETE``, ``WHEN NOT MATCHED
  [AND c] THEN INSERT * | INSERT (cols) VALUES (exprs)`` (unlisted
  columns fill from their declared DEFAULT else NULL), and ``WHEN
  NOT MATCHED BY SOURCE [AND c] THEN UPDATE ... | DELETE``.  Per
  row the FIRST clause of its kind whose condition is TRUE fires;
  a condition-less clause must be last of its kind.  Every shape
  runs through ``merge_apply`` (one atomic CDC-apply commit,
  multi-match guard included).
* ``COPY INTO `t` FROM '<src>' FILEFORMAT = <fmt> [PATTERN = '<glob>']
  [FORMAT_OPTIONS ('k' = 'v', ...)] [COPY_OPTIONS ('force' = 'true')]``
  → ``copy_into``.
* ``ALTER TABLE `t` ...``: ``ADD CONSTRAINT n CHECK (e)``, ``DROP
  CONSTRAINT n``, ``ALTER COLUMN c SET DEFAULT e`` / ``DROP DEFAULT``
  / ``TYPE <wider>`` (metadata-only safe widening, int→bigint /
  float→double — the explicit form of append-time widening) /
  ``SYNC IDENTITY`` (round 11: advance the identity high-water mark
  over every value present — the repair after BY DEFAULT explicit
  inserts; stats-fold metadata, scan fallback) / ``COMMENT '<text>'
  | NULL`` (round 11),
  ``ADD COLUMN c type`` (metadata-only; old rows NULL-fill) or
  ``ADD COLUMN c type GENERATED ALWAYS AS (e)``, ``RENAME COLUMN a TO
  b``, ``DROP COLUMN c``, ``SET TBLPROPERTIES (...)``, ``CLUSTER BY
  (...)`` / ``CLUSTER BY NONE``.
* ``OPTIMIZE `t` [WHERE p = lit [AND ...]] [ZORDER BY (c, ...)]`` →
  ``optimize_manifest`` (partition-scoped compaction) /
  ``zorder_manifest``.
* ``VACUUM `t` [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]`` —
  with no explicit RETAIN, the table's ``retentionVersions`` /
  ``retentionHours`` TBLPROPERTIES govern (round 11); absent both,
  the engine defaults (1 version, 1-hour in-flight guard).
* ``SHOW CREATE TABLE `t`|name`` (round 11) — the persisted contract
  rendered as re-executable DDL: columns with NOT NULL / DEFAULT /
  GENERATED / IDENTITY (START WITH resumes past the live high-water
  mark), CHECK constraints (stats-bounds constraints render as
  equivalent CHECKs), PARTITIONED BY, CLUSTER BY, TBLPROPERTIES,
  LOCATION on external names; views render their stored SQL.
* ``SHOW PARTITIONS `t``` (round 11) — metadata-only: one row per
  live partition-value combo with ``num_files`` and the DV-adjusted
  ``num_rows``; refuses an unpartitioned table.
* ``SHOW COLUMNS FROM|IN `t``` (round 11).
* ``COMMENT ON TABLE `t` IS '<text>' | NULL`` (round 11) — table and
  column comments persist in the properties map (``comment``,
  ``comment.<col>``), render in SHOW CREATE TABLE / DESCRIBE, and
  follow renames/drops.
* ``DESCRIBE HISTORY|DETAIL `t``` (HISTORY on a commit-group
  directory lists its consistent cuts), plain ``DESCRIBE [TABLE]
  `t``` — the column listing with DEFAULT/GENERATED/IDENTITY
  annotations — and ``DESCRIBE EXTENDED|FORMATTED `t``` (round 11):
  the listing plus Spark's ``# Detailed Table Information``
  key/value section (location, version, files/rows/bytes, partition
  spec, clustering, constraints, properties, retained versions).
* ``RESTORE [TABLE] `t` TO VERSION AS OF n | TIMESTAMP AS OF
  '<ts>'`` → ``restore_manifest``.

Error contract: unsupported verbs, malformed clauses, non-equi MERGE
conditions, and unknown columns raise ``ValueError`` with the
offending fragment — never a silent partial parse.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["graft_sql", "graft_sql_script", "split_statements"]

# ---------------------------------------------------------------- lexer

_TOKEN = re.compile(
    r"""(?P<ws>\s+|--[^\n]*|/\*(?:[^*]|\*(?!/))*\*/)
      | (?P<str>'(?:[^'\\]|\\.|'')*')
      | (?P<dqs>"(?:[^"\\]|\\.|"")*")
      | (?P<bt>`(?:[^`]|``)*`)
      | (?P<word>[A-Za-z_][A-Za-z0-9_$.]*)
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<op><=>|<>|!=|>=|<=|\|\||->|[=<>(),;*+\-/%&|^~\[\]{}:.@])
    """,
    re.X,
)


class _Tok:
    __slots__ = ("raw", "up", "kind", "start", "end")

    def __init__(self, raw: str, kind: str, start: int, end: int):
        self.raw = raw
        self.kind = kind
        self.up = raw.upper() if kind in ("word", "op") else raw
        self.start = start
        self.end = end

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Tok({self.raw!r})"


def _lex(sql: str) -> list[_Tok]:
    toks, i = [], 0
    while i < len(sql):
        m = _TOKEN.match(sql, i)
        if m is None:
            raise ValueError(
                f"cannot tokenize SQL at offset {i}: {sql[i:i+20]!r}")
        i = m.end()
        if m.lastgroup == "ws":
            continue
        toks.append(_Tok(m.group(0), m.lastgroup, m.start(), m.end()))
    return toks


#: Spark's string-literal escape table (unescapeSQLString): the
#: control-character pairs decode, LIKE escapes keep their backslash,
#: anything else falls through to "drop the backslash, keep the char".
_STR_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t",
    "Z": "\x1a", "\\": "\\", "'": "'", '"': '"',
    "%": "\\%", "_": "\\_",
}


class _P:
    """Token cursor over the ORIGINAL text: keywords parse from
    tokens, expressions slice verbatim from the source so arbitrary
    SQL passes through untouched."""

    def __init__(self, sql: str):
        self.sql = sql
        self.toks = _lex(sql)
        self.i = 0
        self.spark = None  # set by graft_sql for catalog-name lookup

    def done(self) -> bool:
        return self.i >= len(self.toks)

    def peek(self, k: int = 0) -> _Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def at(self, *words: str) -> bool:
        """True when the next tokens are exactly this keyword phrase."""
        for k, w in enumerate(words):
            t = self.peek(k)
            if t is None or t.kind != "word" or t.up != w:
                return False
        return True

    def eat(self, *words: str) -> bool:
        if self.at(*words):
            self.i += len(words)
            return True
        return False

    def expect(self, *words: str) -> None:
        if not self.eat(*words):
            got = self.peek()
            raise ValueError(
                f"expected {' '.join(words)} at {got.raw!r}" if got
                else f"expected {' '.join(words)} at end of statement")

    def expect_op(self, op: str) -> None:
        t = self.peek()
        if t is None or t.up != op:
            raise ValueError(f"expected {op!r} at "
                             f"{t.raw if t else 'end of statement'!r}")
        self.i += 1

    def eat_op(self, op: str) -> bool:
        t = self.peek()
        if t is not None and t.up == op:
            self.i += 1
            return True
        return False

    def find(self, *words: str) -> int:
        """Token index of the next TOP-LEVEL (paren-depth 0) keyword
        phrase at or after the cursor; -1 when absent."""
        depth = 0
        for j in range(self.i, len(self.toks)):
            t = self.toks[j]
            if t.up == "(":
                depth += 1
            elif t.up == ")":
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.up == words[0]:
                if all((self.toks[j + k].kind == "word"
                        and self.toks[j + k].up == w)
                       if j + k < len(self.toks) else False
                       for k, w in enumerate(words)):
                    return j
        return -1

    def find_clause(self, *words: str) -> int:
        """``find()`` that ALSO skips ``CASE ... END`` spans — the
        MERGE clause boundaries (WHEN / THEN) are keywords that
        legitimately appear inside CASE expressions, so a boundary
        only counts at paren depth 0 AND case depth 0."""
        depth = case = 0
        for j in range(self.i, len(self.toks)):
            t = self.toks[j]
            if t.up == "(":
                depth += 1
            elif t.up == ")":
                depth -= 1
            elif t.kind == "word" and t.up == "CASE":
                case += 1
            elif t.kind == "word" and t.up == "END" and case:
                case -= 1
            elif (depth == 0 and case == 0 and t.kind == "word"
                  and t.up == words[0]):
                if all((self.toks[j + k].kind == "word"
                        and self.toks[j + k].up == w)
                       if j + k < len(self.toks) else False
                       for k, w in enumerate(words)):
                    return j
        return -1

    def slice(self, a: int, b: int | None = None) -> str:
        """Original text spanning tokens [a, b) (b=None → to end)."""
        if b is None:
            b = len(self.toks)
        if a >= len(self.toks) or b <= a:
            return ""
        return self.sql[self.toks[a].start:self.toks[b - 1].end] \
            .strip()

    # ------------------------------------------------ common pieces

    def ident(self, what: str = "identifier") -> str:
        t = self.peek()
        if t is None:
            raise ValueError(f"expected {what} at end of statement")
        self.i += 1
        if t.kind == "bt":
            return t.raw[1:-1].replace("``", "`")
        if t.kind == "word":
            return t.raw
        raise ValueError(f"expected {what}, got {t.raw!r}")

    def string(self, what: str = "string literal") -> str:
        t = self.peek()
        if t is None or t.kind != "str":
            raise ValueError(
                f"expected {what}, got "
                f"{t.raw if t else 'end of statement'!r}")
        self.i += 1
        # both Spark escape forms: '' doubling and backslash escapes,
        # with Spark's actual escape TABLE (unescapeSQLString): '\n'
        # is a newline, not the letter n; '\%'/'\_' keep their
        # backslash (LIKE-pattern escapes); an unknown pair drops the
        # backslash and keeps the char
        return re.sub(
            r"\\(.)|''",
            lambda m: (_STR_ESCAPES.get(m.group(1), m.group(1))
                       if m.group(1) is not None else "'"),
            t.raw[1:-1])

    def table(self) -> str:
        """A table reference: ``graft.`path```, a backtick path, a
        quoted path, or (round 10) a CATALOG NAME — a bare identifier
        resolved through the metastore (``sources.metastore``),
        optionally ``graft.name``-prefixed."""
        t = self.peek()
        if (t is not None and t.kind == "word"
                and t.up in ("GRAFT.", "MANIFEST.", "DELTA.")):
            self.i += 1
            t = self.peek()
        elif t is not None and t.kind == "word":
            # the lexer folds `graft.name` into ONE word token
            raw = t.raw
            for pre in ("GRAFT.", "MANIFEST.", "DELTA."):
                if t.up.startswith(pre) and len(raw) > len(pre):
                    raw = raw[len(pre):]
                    break
            self.i += 1
            return self._resolve_name(raw)
        if t is None:
            raise ValueError("expected table path at end of statement")
        if t.kind == "bt":
            self.i += 1
            return t.raw[1:-1].replace("``", "`")
        if t.kind == "str":
            return self.string("table path")
        raise ValueError(
            "table references are backtick-quoted paths or catalog "
            f"names (got {t.raw!r}) — e.g. UPDATE `/data/orders` ... "
            "or UPDATE orders ...")

    def _resolve_name(self, name: str) -> str:
        from .sources.metastore import resolve_table

        return resolve_table(self.spark, name)

    def paren_cols(self) -> list[str]:
        self.expect_op("(")
        cols = [self.ident("column")]
        while self.peek() is not None and self.peek().up == ",":
            self.i += 1
            cols.append(self.ident("column"))
        self.expect_op(")")
        return cols

    def balanced_paren_slice(self) -> str:
        """Consume a parenthesized group, returning the INNER text."""
        t = self.peek()
        if t is None or t.up != "(":
            raise ValueError(
                "expected '(' at "
                f"{t.raw if t else 'end of statement'!r}")
        depth, j = 0, self.i
        while j < len(self.toks):
            if self.toks[j].up == "(":
                depth += 1
            elif self.toks[j].up == ")":
                depth -= 1
                if depth == 0:
                    inner = self.sql[self.toks[self.i].end:
                                     self.toks[j].start].strip()
                    self.i = j + 1
                    return inner
            j += 1
        raise ValueError("unbalanced parentheses")


# ------------------------------------------------------------ utilities


def _summary(spark: SparkSession, operation: str, table: str,
             **metrics) -> DataFrame:
    """One-row DML/DDL result frame (Delta statements return metric
    frames, not None): stable schema ``operation, table, metric
    columns sorted by name`` with BIGINT metrics."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    keys = sorted(metrics)
    schema = StructType(
        [StructField("operation", StringType(), False),
         StructField("table", StringType(), False)]
        + [StructField(k, LongType(), True) for k in keys])
    row = (operation, table) + tuple(
        None if metrics[k] is None else int(metrics[k]) for k in keys)
    return spark.createDataFrame([row], schema)


def _live_stat_cols(m: dict) -> list[str]:
    cols = sorted({k for f in m["files"] if not f.get("dead")
                   for k in (f.get("stats") or {})})
    if cols:
        return cols
    # an EMPTY (declared) table has no file stats to inherit: default
    # to the CTAS stats posture over the declared schema, so the
    # first INSERT/COPY INTO lands with skipping stats
    from .sources.manifest_source import _table_schema

    try:
        return _atomic_stat_fields(_table_schema(m).fields)
    except Exception:
        return []


def _atomic_stat_fields(fields) -> list[str]:
    """Default stat columns: the first 32 top-level atomic columns
    (Delta's dataSkippingNumIndexedCols=32 posture) — ONE shared
    predicate for every create path (CTAS, declared-empty,
    name-form), so pruning/COUNT(col) servability never depends on
    which statement built the table (round-11 review unified the two
    diverging copies).  typeName() spells IntegerType "integer" — the
    old "int" alias silently dropped every INT column from stats;
    caught by the manifest_stats_minmax face.  Decimal/timestamp
    columns are listed so constraint verification sees them, though
    the harvest layer may decline their footer stats
    (`_footer_entry` policy)."""
    atomic = ("long", "integer", "short", "byte", "double",
              "float", "string", "date", "boolean")
    out: list[str] = []
    for f in fields:
        t = f.dataType.typeName()
        if t in atomic or t.startswith("decimal") \
                or t.startswith("timestamp"):
            out.append(f.name)
        if len(out) >= 32:
            break
    return out


def _default_stat_cols(df: DataFrame) -> list[str]:
    return _atomic_stat_fields(df.schema.fields)


_GRAFT_VIEWS: dict[tuple, str] = {}


def _rewrite_graft_refs(spark: SparkSession, sql: str,
                        _depth: int = 0) -> str:
    """Replace every ``graft.`path``` (optionally ``VERSION AS OF
    n``) table reference in a query with a registered temp view over
    ``read_manifest`` — the read-side twin of the DML dispatch.
    ``graft.<name>`` catalog refs resolve through the metastore:
    tables read like paths, VIEWS expand recursively (their stored
    SQL rewritten and registered, cycle-capped).  The rewrite is
    token-exact (never inside string literals)."""
    from .sources.manifest_source import read_manifest, register

    toks = _lex(sql)
    out, last, k = [], 0, 0
    registered = False

    def _table_position(k: int) -> bool:
        # only a token in TABLE POSITION is a catalog/path reference:
        # a query alias literally named ``delta`` must keep working
        # (``SELECT delta.change FROM (...) delta`` — pre-round-10
        # behavior; ADVICE r10).  Table position = right after FROM /
        # JOIN / USING / INTO / TABLE / LATERAL — or after a COMMA
        # that continues a FROM list (``FROM graft.a, graft.b``;
        # round-11 review fix: walk back over the previous reference
        # and its optional alias/version clause to the list head;
        # balanced parens are skipped so an IN-list comma never
        # qualifies).
        if k == 0:
            return False
        if toks[k - 1].up in ("FROM", "JOIN", "USING", "INTO",
                              "TABLE", "LATERAL"):
            return True
        if toks[k - 1].up != ",":
            return False
        depth = 0
        for i in range(k - 2, -1, -1):
            up = toks[i].up
            if up == ")":
                depth += 1
            elif up == "(":
                if depth == 0:
                    return False  # comma belongs to a paren list
                depth -= 1
            elif depth == 0:
                if up == "FROM":
                    return True
                if up in ("SELECT", "WHERE", "GROUP", "ORDER",
                          "HAVING", "JOIN", "ON", "UNION", "EXCEPT",
                          "INTERSECT", ";"):
                    return False
        return False

    while k < len(toks):
        t = toks[k]
        path = None
        if (t.kind == "word" and t.up in ("GRAFT.", "MANIFEST.", "DELTA.")
                and k + 1 < len(toks) and toks[k + 1].kind == "bt"
                and _table_position(k)):
            path = toks[k + 1].raw[1:-1].replace("``", "`")
            end = toks[k + 1].end
            j = k + 2  # VERSION/TIMESTAMP lookahead starts here
        elif t.kind == "word" and "." in t.raw and _table_position(k):
            # the lexer folds `graft.name` into ONE word token: a
            # catalog-name reference (round 10)
            pre, _, rest = t.raw.partition(".")
            if pre.upper() in ("GRAFT", "MANIFEST", "DELTA") and rest:
                from .sources.metastore import resolve_ref

                kind, val = resolve_ref(spark, rest)
                if kind == "view":
                    if _depth >= 10:
                        raise ValueError(
                            f"view expansion exceeds depth 10 at "
                            f"{rest!r} — view cycle?")
                    view = f"graft_catview_{rest.lower()}"
                    spark.sql(_rewrite_graft_refs(
                        spark, val, _depth + 1)) \
                        .createOrReplaceTempView(view)
                    out.append(sql[last:t.start])
                    out.append(view)
                    last = t.end
                    k += 1
                    continue
                path = val
                end = t.end
                j = k + 1
        if path is None:
            k += 1
            continue
        version = None
        timestamp = None
        if (j + 3 < len(toks)
                and toks[j].up == "VERSION"
                and toks[j + 1].up == "AS"
                and toks[j + 2].up == "OF"
                and toks[j + 3].kind == "num"):
            version = int(toks[j + 3].raw)
            end = toks[j + 3].end
            j += 4
        elif (j + 3 < len(toks)
                and toks[j].up == "TIMESTAMP"
                and toks[j + 1].up == "AS"
                and toks[j + 2].up == "OF"
                and toks[j + 3].kind == "str"):
            timestamp = toks[j + 3].raw[1:-1].replace("''", "'")
            end = toks[j + 3].end
            j += 4
        key = (os.path.abspath(path) if "://" not in path
               else path, version, timestamp)
        view = _GRAFT_VIEWS.setdefault(
            key, f"graft_view_{len(_GRAFT_VIEWS)}")
        if not registered:
            register(spark)
            registered = True
        # always re-register: the view must reflect the CURRENT
        # table version (read_manifest pins at definition time),
        # and a new session must not miss the relation
        read_manifest(spark, path, version=version,
                      timestamp=timestamp) \
            .createOrReplaceTempView(view)
        out.append(sql[last:t.start])
        out.append(view)
        last = end
        k = j
        continue
    out.append(sql[last:])
    return "".join(out)


# ------------------------------------------------------------ dispatch


def graft_sql(spark: SparkSession, statement: str) -> DataFrame:
    """Execute one lakehouse SQL statement (module docstring has the
    grammar).  Always returns a DataFrame: queries return rows,
    DML/DDL return a one-row operation summary."""
    sql = statement.strip().rstrip(";").strip()
    if not sql:
        raise ValueError("empty statement")
    p = _P(sql)
    p.spark = spark
    head = p.peek()
    if head is None:
        raise ValueError("empty statement")
    verb = head.up if head.kind == "word" else head.raw
    if verb in ("SELECT", "WITH", "VALUES"):
        return spark.sql(_rewrite_graft_refs(spark, sql))
    handler = {
        "UPDATE": _stmt_update,
        "DELETE": _stmt_delete,
        "MERGE": _stmt_merge,
        "COPY": _stmt_copy_into,
        "ALTER": _stmt_alter,
        "OPTIMIZE": _stmt_optimize,
        "VACUUM": _stmt_vacuum,
        "DESCRIBE": _stmt_describe,
        "RESTORE": _stmt_restore,
        "INSERT": _stmt_insert,
        "CREATE": _stmt_create,
        "TRUNCATE": _stmt_truncate,
        "CONVERT": _stmt_convert,
        "SHOW": _stmt_show,
        "DROP": _stmt_drop,
        "COMMENT": _stmt_comment,
    }.get(verb)
    if handler is None:
        raise ValueError(f"unsupported statement: {verb} "
                         "(see graft_sql docstring for the grammar)")
    return handler(spark, p)


# --------------------------------------------------------------- scripts


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script at TOP-LEVEL semicolons.  The
    lexer already skips comments and string literals (commit
    5bcf874), so a ``;`` inside either never splits; parenthesized
    subqueries are depth-guarded the same way."""
    toks = _lex(script)
    out, depth = [], 0
    span: list[_Tok] = []
    for t in toks:
        if t.up == "(":
            depth += 1
        elif t.up == ")":
            depth -= 1
        elif t.up == ";" and depth == 0:
            if span:
                out.append(script[span[0].start:span[-1].end])
            span = []
            continue
        span.append(t)
    if span:
        out.append(script[span[0].start:span[-1].end])
    return out


def _stmt_target_path(spark: SparkSession, sql: str) -> str | None:
    """The table path a write statement targets — best-effort peek
    used ONLY to capture pre-transaction versions (a parse failure
    here surfaces as graft_sql's own error moments later)."""
    try:
        p = _P(sql)
        p.spark = spark
        if p.eat("UPDATE"):
            return p.table()
        if p.eat("DELETE"):
            p.expect("FROM")
            return p.table()
        if p.eat("MERGE"):
            p.expect("INTO")
            return p.table()
        if p.eat("INSERT"):
            if not p.eat("INTO"):
                p.expect("OVERWRITE")
            p.eat("TABLE")
            return p.table()
        if p.eat("CREATE"):
            p.eat("OR", "REPLACE")
            p.expect("TABLE")
            p.eat("IF", "NOT", "EXISTS")
            t = p.peek()
            if (t is not None and t.kind == "word"
                    and t.up not in ("GRAFT.", "MANIFEST.", "DELTA.")):
                # name form: the data lands at the declared LOCATION
                # or the managed path — resolvable without the entry
                from .sources.metastore import (
                    catalog_dir,
                    managed_location,
                )

                name = p.ident("table name")
                p.eat("USING", "GRAFT") or p.eat("USING", "MANIFEST")
                if p.eat("LOCATION"):
                    return p.string("location path")
                return managed_location(catalog_dir(spark), name)
            return p.table()
        if p.eat("COPY"):
            p.expect("INTO")
            return p.table()
        if p.eat("ALTER"):
            p.expect("TABLE")
            return p.table()
        if p.eat("TRUNCATE"):
            p.eat("TABLE")
            return p.table()
        if p.eat("OPTIMIZE"):
            return p.table()
        if p.eat("RESTORE"):
            p.eat("TABLE")
            return p.table()
    except ValueError:
        return None
    return None


def _stmt_catalog_name(sql: str) -> str | None:
    """The CATALOG NAME a statement creates/repoints/DROPS (``CREATE
    [OR REPLACE] TABLE|VIEW <bare-name> ...``, ``DROP TABLE|VIEW [IF
    EXISTS] <bare-name>`` — round-11 review: a DROP inside a failed
    span must roll back too) — best-effort peek used only to capture
    per-name pre-images inside a transaction span.  Compensation must
    restore exactly the entries the span touched: a wholesale
    catalog-version rollback would erase a CONCURRENT session's
    CREATE/DROP committed mid-span (ADVICE r10)."""
    from .sources.metastore import _norm

    try:
        p = _P(sql)
        if p.eat("CREATE"):
            p.eat("OR", "REPLACE")
            if not (p.eat("TABLE") or p.eat("VIEW")):
                return None
            p.eat("IF", "NOT", "EXISTS")
        elif p.eat("DROP"):
            if not (p.eat("TABLE") or p.eat("VIEW")):
                return None
            p.eat("IF", "EXISTS")
        else:
            return None
        t = p.peek()
        if (t is not None and t.kind == "word"
                and t.up not in ("GRAFT.", "MANIFEST.", "DELTA.")
                and "." not in t.raw):
            return _norm(p.ident("name"))
    except ValueError:
        return None
    return None


def graft_sql_script(spark: SparkSession, script: str,
                     group: str | None = None) -> DataFrame:
    """Execute a multi-statement SQL script — the reference's flagship
    shape is exactly this (one transactional script: BEGIN → DROP →
    CTAS → ALTER → COMMIT, reference ``transform-complex-full.py:
    15-223``).  Statements run in order; the LAST statement's
    DataFrame is returned.

    ``BEGIN [TRANSACTION]`` ... ``COMMIT`` spans are TRANSACTIONAL:

    * Before the first write to each table inside the span, its
      pre-script manifest version is captured.
    * A statement failure (or explicit ``ROLLBACK``) COMPENSATES:
      every touched pre-existing table is ``restore_manifest``-ed to
      its captured version (an auditable REVERT commit, time travel
      intact) and every table the span CREATED is removed — no
      partial state survives, the pytest contract.
    * At ``COMMIT`` with ``group`` set, ONE group snapshot
      (``table_group.pin_group``) pins every touched table at its
      post-script version — readers resolving tables through the
      group flip from none-of-the-script to all-of-it atomically,
      and group time travel re-materializes any historical cut.

    Isolation is per-table READ COMMITTED for direct table readers
    (each statement's commit is individually visible, exactly like a
    Delta multi-statement script); the GROUP view is the consistent
    cut.  A hard crash mid-span leaves member commits visible to
    direct readers until the script re-runs — the group view never
    shows them.  ``VACUUM`` and ``CONVERT TO`` are refused inside a
    span (both are irreversible, compensation would be a lie).

    ``BEGIN TRANSACTION '<txn-id>'`` (requires ``group``) makes the
    span CRASH-RECOVERABLE and IDEMPOTENT under retry:

    * a WRITE-AHEAD INTENT (``<group>/intent-<id>.json``, the
      captured pre-versions) is persisted before each first write;
    * re-running a script whose id the group already CONSUMED skips
      the whole span — the commit published, replaying would double-
      apply;
    * re-running after a HARD CRASH (intent present, id not
      consumed) first restores every captured pre-version — undoing
      the crashed attempt's partial writes — then re-executes the
      span cleanly;
    * COMMIT consumes the id in the group snapshot (one CAS with the
      pins) and removes the intent.  Exactly-once across the script,
      the contract ``group_commit``/foreachBatch already give per
      table."""
    from .sources.manifest_source import load_manifest, restore_manifest
    from .sources.metastore import catalog_dir, load_catalog, restore_catalog

    stmts = split_statements(script)
    if not stmts:
        raise ValueError("empty script")
    result: DataFrame | None = None
    txn: dict | None = None
    skipping = False

    def _intent_path(tid: str) -> str:
        return os.path.join(group, f"intent-{tid}.json")

    def _persist_intent() -> None:
        if txn.get("id") is None:
            return
        os.makedirs(group, exist_ok=True)
        tmp = _intent_path(txn["id"]) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"pre": txn["pre"], "order": txn["order"],
                       "cat_pre": txn["cat_pre"]}, fh)
        os.replace(tmp, _intent_path(txn["id"]))

    def _restore(state: dict) -> None:
        import shutil

        for path in reversed(state["order"]):
            pre = state["pre"][path]
            if pre is None:
                shutil.rmtree(path, ignore_errors=True)
            else:
                restore_manifest(path, pre)
        # catalog compensation is PER-NAME: only entries THIS span
        # created/repointed roll back to their pre-images — a
        # concurrent session's CREATE/DROP committed mid-span
        # survives untouched (never a wholesale version restore)
        cat_pre = state.get("cat_pre")
        if cat_pre:
            from .sources.metastore import _mutate

            def fn(tables: dict) -> None:
                for n, pre in cat_pre.items():
                    if pre is None:
                        tables.pop(n, None)
                    elif (pre.get("managed")
                          and not os.path.isdir(pre.get("location",
                                                        ""))):
                        # a MANAGED table dropped mid-span lost its
                        # data directory with the entry — re-inserting
                        # a name that points at nothing would be worse
                        # than honest absence (documented limitation:
                        # in-span DROP of managed tables is not fully
                        # compensable; external/view entries are)
                        tables.pop(n, None)
                    else:
                        tables[n] = dict(pre)

            _mutate(catalog_dir(spark), fn)
        elif cat_pre is None and state.get("catalog") is not None:
            # legacy intent (pre-round-11): whole-version fallback
            cur = load_catalog(catalog_dir(spark))["version"]
            if cur != state["catalog"]:
                restore_catalog(spark, state["catalog"])

    def _rollback() -> None:
        _restore(txn)
        if txn.get("id") is not None:
            try:
                os.remove(_intent_path(txn["id"]))
            except FileNotFoundError:
                pass

    def _parse_begin(sql: str) -> str | None:
        q = _P(sql)
        q.expect("BEGIN")
        q.eat("TRANSACTION") or q.eat("WORK")
        tid = None
        t = q.peek()
        if t is not None and t.kind == "str":
            tid = q.string("transaction id")
            if not re.fullmatch(r"[A-Za-z0-9._-]{1,100}", tid):
                raise ValueError(
                    f"transaction id {tid!r} must be 1-100 chars of "
                    "[A-Za-z0-9._-]")
        if not q.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{q.slice(q.i, None)!r}")
        return tid

    for sql in stmts:
        head = sql.split(None, 1)[0].upper().rstrip(";")
        if skipping:
            # a consumed-txn span replays as a no-op up to its COMMIT
            if head in ("COMMIT", "ROLLBACK"):
                skipping = False
                result = _summary(spark, "COMMIT (replayed)",
                                  group or "")
            continue
        if head == "BEGIN":
            if txn is not None:
                raise ValueError("nested BEGIN (already in a "
                                 "transaction)")
            tid = _parse_begin(sql)
            if tid is not None:
                if group is None:
                    raise ValueError(
                        "BEGIN TRANSACTION '<id>' requires a group "
                        "(the consumed-id registry lives in the "
                        "group snapshot)")
                from .sources.table_group import load_group

                try:
                    consumed = load_group(group).get("txns", {})
                except FileNotFoundError:
                    consumed = {}
                if tid in consumed:
                    skipping = True  # already committed: skip span
                    continue
                if os.path.exists(_intent_path(tid)):
                    # crashed attempt: undo its partial writes first
                    with open(_intent_path(tid)) as fh:
                        _restore(json.load(fh))
            txn = {"pre": {}, "order": [], "id": tid, "cat_pre": {}}
            continue
        if head == "COMMIT":
            if txn is None:
                raise ValueError("COMMIT without BEGIN")
            if group is not None and (txn["order"] or txn["id"]):
                from .sources.table_group import pin_group

                pin_group(group, {
                    os.path.abspath(p): (p, load_manifest(p)
                                         .get("version", 0))
                    for p in txn["order"]}, txn_id=txn["id"])
            if txn.get("id") is not None:
                try:
                    os.remove(_intent_path(txn["id"]))
                except FileNotFoundError:
                    pass
            if result is None:
                result = _summary(spark, "COMMIT", group or "")
            txn = None
            continue
        if head == "ROLLBACK":
            if txn is None:
                raise ValueError("ROLLBACK without BEGIN")
            _rollback()
            txn = None
            continue
        if txn is not None:
            if head in ("VACUUM", "CONVERT", "DROP"):
                raise ValueError(
                    f"{head} is refused inside BEGIN ... COMMIT: it "
                    "is irreversible (a managed DROP deletes data), "
                    "so a later ROLLBACK could not compensate it")
            target = _stmt_target_path(spark, sql)
            if target is not None and "://" not in target:
                target = os.path.abspath(target)
            if target is not None and target not in txn["pre"]:
                try:
                    pre = load_manifest(target).get("version", 0)
                except (FileNotFoundError, OSError):
                    pre = None
                txn["pre"][target] = pre
                txn["order"].append(target)
                _persist_intent()
            cname = _stmt_catalog_name(sql)
            if cname is not None and cname not in txn["cat_pre"]:
                entry = load_catalog(
                    catalog_dir(spark))["tables"].get(cname)
                txn["cat_pre"][cname] = (dict(entry)
                                         if entry is not None else None)
                _persist_intent()
        try:
            result = graft_sql(spark, sql)
        except BaseException:
            if txn is not None:
                _rollback()
            raise
    if txn is not None:
        _rollback()
        raise ValueError(
            "script ended inside an open transaction (missing "
            "COMMIT) — rolled back")
    if result is None:  # e.g. a fully-replayed span with no COMMIT
        result = _summary(spark, "NO-OP", group or "")
    return result


# ----------------------------------------------------------------- DML


def _stmt_update(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import update_manifest

    p.expect("UPDATE")
    path = p.table()
    p.expect("SET")
    w = p.find("WHERE")
    set_src = p.slice(p.i, w if w >= 0 else None)
    where = "true"
    if w >= 0:
        where = p.slice(w + 1, None)
        if not where:
            raise ValueError("WHERE with no predicate")
    assignments = _parse_assignments(set_src)
    sub = _has_subquery(where)
    if sub:
        # subqueries may reference graft.`path` tables; resolve them
        # to temp views before the API evaluates the predicate via
        # spark.sql (F.expr cannot plan subqueries)
        where = _rewrite_graft_refs(spark, where)
    m = update_manifest(spark, path, assignments, where,
                        filters=_derive_filters(spark, path, where),
                        subquery=sub)
    return _summary(spark, "UPDATE", path, version=m.get("version"))


def _has_subquery(src: str) -> bool:
    """True when the predicate contains a subquery (SELECT/EXISTS
    keyword anywhere) — those must evaluate through spark.sql, not
    F.expr."""
    try:
        toks = _lex(src)
    except ValueError:
        return False
    return any(t.kind == "word" and t.up in ("SELECT", "EXISTS")
               for t in toks)


_NO_LITERAL = object()


def _derive_filters(spark: SparkSession, path: str,
                    where: str) -> list[tuple] | None:
    """Stats-pruning filters IMPLIED by the WHERE clause's simple
    top-level conjuncts (``col op literal`` / ``col IN (...)``) — the
    100 TB reason the API forms take ``filters`` explicitly: without
    them a selective UPDATE/DELETE through SQL would FIND-scan every
    candidate file instead of the stats-surviving slice.

    Sound by construction: a row satisfying the whole WHERE satisfies
    each top-level conjunct, so pruning a file that cannot satisfy
    one conjunct can never drop a match.  Anything not obviously a
    conjunct of that shape (ORs, functions, casts, mismatched literal
    types, date literals) is SKIPPED — derivation only ever narrows
    the candidate list, never the semantics.

    A top-level OR anywhere in the predicate disables derivation
    entirely: AND binds tighter than OR, so ``a = 1 AND b = 2 OR
    c = 3`` splits on AND into pieces the full predicate does NOT
    imply (a row matching only the OR branch fails ``a = 1``), and a
    filter derived from such a piece would prune files holding rows
    the statement must touch."""
    from .sources.manifest_source import _table_schema, load_manifest

    try:
        st = _table_schema(load_manifest(path))
    except (FileNotFoundError, ValueError, OSError):
        return None
    try:
        if len(_split_top_kw(where, "OR")) > 1:
            return None
    except ValueError:
        return None
    types = {f.name: f.dataType.simpleString() for f in st.fields}
    out: list[tuple] = []
    for part in _split_top_kw(where, "AND"):
        try:
            q = _P(part)
        except ValueError:
            continue
        t = q.peek()
        if t is None or t.kind != "word" or "." in t.raw:
            continue
        col = t.raw
        dt = types.get(col)
        if dt is None:
            continue
        q.i += 1
        op_t = q.peek()
        if op_t is None:
            continue
        # `col IS [NOT] NULL` conjuncts (round 11): null-count file
        # pruning — an all-null file cannot satisfy IS NOT NULL, a
        # zero-null file cannot satisfy IS NULL
        if op_t.kind == "word" and op_t.up == "IS":
            q.i += 1
            neg = q.eat("NOT")
            if q.eat("NULL") and q.done():
                out.append((col, "isnotnull" if neg else "isnull",
                            None))
            continue
        if op_t.kind == "word" and op_t.up == "IN":
            q.i += 1
            try:
                inner = q.balanced_paren_slice()
            except ValueError:
                continue
            if not q.done():
                continue
            vals = []
            for piece in _split_top(inner, ","):
                v = _typed_literal(piece, dt)
                if v is _NO_LITERAL:
                    vals = None
                    break
                vals.append(v)
            if vals:
                out.append((col, "in", vals))
            continue
        if op_t.up not in ("=", "<", "<=", ">", ">="):
            continue
        q.i += 1
        v = _typed_literal(q.slice(q.i, None), dt)
        if v is _NO_LITERAL:
            continue
        out.append((col, op_t.up, v))
    return out or None


def _typed_literal(src: str, dt: str):
    """A single numeric/string literal matching the column type, else
    the _NO_LITERAL sentinel (cross-type comparisons against stored
    stats would be unsound or raise)."""
    try:
        toks = _lex(src)
    except ValueError:
        return _NO_LITERAL
    if len(toks) != 1:
        return _NO_LITERAL
    t = toks[0]
    numeric = (dt in ("bigint", "int", "smallint", "tinyint",
                      "double", "float")
               or dt.startswith("decimal"))
    if t.kind == "num" and numeric:
        return float(t.raw) if "." in t.raw else int(t.raw)
    if t.kind == "str" and dt == "string":
        return t.raw[1:-1].replace("''", "'")
    return _NO_LITERAL


def _parse_assignments(src: str) -> dict[str, str]:
    """``a = e1, b = e2`` → {a: e1, b: e2}; split at top-level commas
    and the FIRST top-level ``=`` of each piece, so expressions
    containing commas/equality stay intact."""
    if not src.strip():
        raise ValueError("SET with no assignments")
    out: dict[str, str] = {}
    for piece in _split_top(src, ","):
        q = _P(piece)
        depth, eq = 0, -1
        for j, t in enumerate(q.toks):
            if t.up == "(":
                depth += 1
            elif t.up == ")":
                depth -= 1
            elif depth == 0 and t.up == "=":
                eq = j
                break
        if eq <= 0:
            raise ValueError(f"malformed assignment: {piece!r}")
        col_p = _P(q.slice(0, eq))
        col = col_p.ident("column")
        if not col_p.done():
            raise ValueError(f"malformed assignment target: {piece!r}")
        expr = q.slice(eq + 1, None)
        if not expr:
            raise ValueError(f"assignment with no expression: {piece!r}")
        if col in out:
            raise ValueError(f"column {col!r} assigned twice")
        out[col] = expr
    return out


def _split_top(src: str, sep: str) -> list[str]:
    toks = _lex(src)
    out, depth, last = [], 0, 0
    for t in toks:
        if t.up == "(":
            depth += 1
        elif t.up == ")":
            depth -= 1
        elif depth == 0 and t.up == sep:
            out.append(src[last:t.start].strip())
            last = t.end
    out.append(src[last:].strip())
    return [s for s in out if s]


def _stmt_delete(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import (
        delete_where,
        delete_where_dv,
        load_manifest,
    )

    p.expect("DELETE")
    p.expect("FROM")
    path = p.table()
    where = "true"
    if p.eat("WHERE"):
        where = p.slice(p.i, None)
        if not where:
            raise ValueError("WHERE with no predicate")
    elif not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    # Delta posture: with enableDeletionVectors set, DELETE goes
    # merge-on-read (positions masked, no rewrite) and falls back to
    # copy-on-write automatically past the mask-size threshold
    try:
        props = load_manifest(path).get("properties") or {}
    except (FileNotFoundError, OSError) as exc:
        raise ValueError(
            f"DELETE target does not exist: {path!r}") from exc
    dv = str(props.get("enableDeletionVectors", "")).lower() \
        in ("true", "1")
    sub = _has_subquery(where)
    if sub:
        where = _rewrite_graft_refs(spark, where)
    filters = _derive_filters(spark, path, where)
    m = (delete_where_dv if dv else delete_where)(
        spark, path, where, filters=filters, subquery=sub)
    return _summary(spark, "DELETE", path, version=m.get("version"))


def _stmt_merge(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import load_manifest, merge_apply

    p.expect("MERGE")
    evolve = p.eat("WITH", "SCHEMA", "EVOLUTION")
    p.expect("INTO")
    path = p.table()
    t_alias = None
    if p.eat("AS"):
        t_alias = p.ident("target alias")
    elif (p.peek() is not None and p.peek().kind == "word"
          and p.peek().up != "USING"):
        t_alias = p.ident("target alias")
    p.expect("USING")
    src_df = _merge_source(spark, p)
    s_alias = None
    if p.eat("AS"):
        s_alias = p.ident("source alias")
    elif (p.peek() is not None and p.peek().kind == "word"
          and p.peek().up != "ON"):
        s_alias = p.ident("source alias")
    p.expect("ON")
    w = p.find_clause("WHEN")
    if w < 0:
        raise ValueError("MERGE requires at least one WHEN clause")
    key_cols = _merge_keys(p.slice(p.i, w), t_alias, s_alias)
    p.i = w

    matched, not_matched, nmbs = _merge_clauses(p)
    # UPDATE SET lhs may be target-qualified (`t.col = ...`): strip
    # the target alias; a source-qualified lhs is refused
    for cl in (*matched, *nmbs):
        if not cl.get("set"):
            continue
        fixed = {}
        for k, v in cl["set"].items():
            if "." in k:
                a, _, c = k.partition(".")
                if t_alias is not None and a == t_alias:
                    k = c
                else:
                    raise ValueError(
                        f"UPDATE SET assigns non-target column "
                        f"{k!r} (target alias: {t_alias!r})")
            if k in fixed:
                raise ValueError(f"column {k!r} assigned twice")
            fixed[k] = v
        cl["set"] = fixed
    try:
        m0 = load_manifest(path)
    except (FileNotFoundError, OSError) as exc:
        raise ValueError(
            f"MERGE target does not exist: {path!r}") from exc
    stat_cols = _live_stat_cols(m0) or list(key_cols)
    m = merge_apply(
        src_df, path, key_cols, stat_cols,
        matched=matched, not_matched=not_matched,
        not_matched_by_source=nmbs,
        target_alias=t_alias or "__tgt",
        source_alias=s_alias or "__src",
        schema_evolution=evolve)
    return _summary(spark, "MERGE", path, version=m.get("version"))


def _merge_clauses(p: _P) -> tuple[list[dict], list[dict], list[dict]]:
    """Parse the WHEN clause list — the full Delta matrix: ordered,
    optionally AND-conditioned MATCHED (UPDATE SET */assignments |
    DELETE), NOT MATCHED (INSERT * | INSERT (cols) VALUES (exprs)),
    and NOT MATCHED BY SOURCE (UPDATE assignments | DELETE) clauses.
    Within each category a condition-less clause must be LAST (it
    would shadow every later clause — Delta refuses the same)."""
    matched: list[dict] = []
    not_matched: list[dict] = []
    nmbs: list[dict] = []
    while p.eat("WHEN"):
        if p.eat("NOT", "MATCHED", "BY", "SOURCE"):
            kind, bucket = "NOT MATCHED BY SOURCE", nmbs
        elif p.eat("NOT", "MATCHED"):
            p.eat("BY", "TARGET")  # Delta synonym for NOT MATCHED
            kind, bucket = "NOT MATCHED", not_matched
        elif p.eat("MATCHED"):
            kind, bucket = "MATCHED", matched
        else:
            raise ValueError(
                "unsupported WHEN clause at "
                f"{p.slice(p.i, min(p.i + 6, len(p.toks)))!r}; "
                "supported: WHEN [NOT] MATCHED [BY SOURCE] "
                "[AND <cond>] THEN UPDATE SET ... | DELETE | "
                "INSERT ...")
        if bucket and bucket[-1].get("cond") is None:
            raise ValueError(
                f"a condition-less WHEN {kind} clause must be the "
                "LAST of its kind (it would shadow every later one)")
        cond = None
        if p.eat("AND"):
            th = p.find_clause("THEN")
            if th < 0:
                raise ValueError(
                    f"WHEN {kind} AND <cond> requires THEN")
            cond = p.slice(p.i, th)
            if not cond:
                raise ValueError(f"WHEN {kind} AND with no condition")
            p.i = th
        p.expect("THEN")
        end = p.find_clause("WHEN")
        if p.eat("DELETE"):
            if bucket is not_matched:
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT only "
                    "(DELETE/UPDATE need a target row)")
            bucket.append({"cond": cond, "action": "delete"})
        elif p.eat("INSERT"):
            if bucket is not not_matched:
                raise ValueError(
                    f"WHEN {kind} cannot INSERT (the target row "
                    "already exists)")
            if p.eat_op("*"):
                bucket.append({"cond": cond, "values": None})
            else:
                cols = p.paren_cols()
                p.expect("VALUES")
                inner = p.balanced_paren_slice()
                exprs = _split_top(inner, ",")
                if len(exprs) != len(cols):
                    raise ValueError(
                        f"INSERT lists {len(cols)} column(s) but "
                        f"{len(exprs)} value(s): {inner!r}")
                dup = {c for c in cols if cols.count(c) > 1}
                if dup:
                    raise ValueError(
                        f"INSERT column(s) listed twice: {sorted(dup)}")
                bucket.append({"cond": cond,
                               "values": dict(zip(cols, exprs))})
        elif p.eat("UPDATE"):
            if bucket is not_matched:
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT only "
                    "(DELETE/UPDATE need a target row)")
            p.expect("SET")
            if p.eat_op("*"):
                if bucket is nmbs:
                    raise ValueError(
                        "NOT MATCHED BY SOURCE UPDATE SET * is "
                        "meaningless (there is no source row)")
                bucket.append({"cond": cond, "action": "update",
                               "set": None})
            else:
                stop = end if end >= 0 else len(p.toks)
                src = p.slice(p.i, stop)
                if not src:
                    raise ValueError("UPDATE SET with no assignments")
                bucket.append({"cond": cond, "action": "update",
                               "set": _parse_assignments(src)})
                p.i = stop
        else:
            got = p.peek()
            raise ValueError(
                f"WHEN {kind} THEN must be UPDATE/DELETE/INSERT, got "
                f"{got.raw if got else 'end of statement'!r}")
    if not p.done():
        raise ValueError(
            f"unexpected trailing tokens: {p.slice(p.i, None)!r}")
    return matched, not_matched, nmbs


def _merge_source(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import read_manifest, register

    t = p.peek()
    if t is None:
        raise ValueError("MERGE USING requires a source")
    if t.up == "(":
        inner = p.balanced_paren_slice()
        return spark.sql(_rewrite_graft_refs(spark, inner))
    if t.kind == "bt" or (t.kind == "word"
                          and t.up in ("GRAFT.", "MANIFEST.", "DELTA.")):
        register(spark)
        return read_manifest(spark, p.table())
    if t.kind == "word":
        p.i += 1
        try:
            return spark.table(t.raw)
        except Exception:
            # not a temp view: a catalog name (views take precedence)
            from .sources.metastore import resolve_table

            register(spark)
            return read_manifest(spark, resolve_table(spark, t.raw))
    raise ValueError(f"unsupported MERGE source: {t.raw!r}")


def _merge_keys(cond: str, t_alias: str | None,
                s_alias: str | None) -> list[str]:
    """``a.k = b.k AND a.j = b.j`` → [k, j]: the equi-key contract of
    ``merge_apply`` (same column name both sides).  Anything else is
    refused with the offending conjunct."""
    aliases = {a for a in (t_alias, s_alias) if a}
    keys: list[str] = []
    for part in _split_top_kw(cond, "AND"):
        q = _P(part)
        left = _qualified(q, aliases)
        t = q.peek()
        if t is None or t.up != "=":
            raise ValueError(f"non-equi MERGE condition: {part!r}; "
                             "MERGE matches rows by equi-key")
        q.i += 1
        right = _qualified(q, aliases)
        if not q.done():
            raise ValueError(f"non-equi MERGE condition: {part!r}")
        if left != right:
            raise ValueError(
                f"MERGE keys must match by NAME on both sides "
                f"(got {part!r}); MERGE matches rows by shared key "
                "columns")
        keys.append(left)
    if not keys:
        raise ValueError("MERGE ON condition has no keys")
    return keys


def _qualified(q: _P, aliases: set[str]) -> str:
    name = q.ident("column")
    # the lexer folds `a.k` into one word token; strip a known alias
    if "." in name:
        alias, _, col = name.partition(".")
        if aliases and alias not in aliases:
            raise ValueError(
                f"unknown alias {alias!r} in MERGE condition "
                f"(declared: {sorted(aliases)})")
        return col
    return name


def _split_top_kw(src: str, kw: str) -> list[str]:
    toks = _lex(src)
    out, depth, last = [], 0, 0
    for t in toks:
        if t.up == "(":
            depth += 1
        elif t.up == ")":
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.up == kw:
            out.append(src[last:t.start].strip())
            last = t.end
    out.append(src[last:].strip())
    return [s for s in out if s]


def _stmt_copy_into(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import copy_into

    p.expect("COPY")
    p.expect("INTO")
    path = p.table()
    p.expect("FROM")
    t = p.peek()
    if t is None:
        raise ValueError("COPY INTO requires a FROM source")
    source = p.string("source path") if t.kind == "str" else p.table()
    fmt = "parquet"
    pattern = None
    reader_options: dict[str, str] = {}
    force = False
    while not p.done():
        if p.eat("FILEFORMAT"):
            p.expect_op("=")
            fmt = p.ident("file format").lower()
        elif p.eat("PATTERN"):
            p.expect_op("=")
            pattern = p.string("pattern")
        elif p.eat("FORMAT_OPTIONS"):
            reader_options.update(_kv_options(p))
        elif p.eat("COPY_OPTIONS"):
            opts = _kv_options(p)
            force = str(opts.pop("force", "false")).lower() == "true"
            if opts:
                raise ValueError(f"unsupported COPY_OPTIONS: "
                                 f"{sorted(opts)}")
        else:
            raise ValueError(
                f"unexpected COPY INTO clause: {p.slice(p.i, None)!r}")
    if pattern is not None:
        source = os.path.join(source, pattern)
    res = copy_into(spark, path, source, source_format=fmt,
                    reader_options=reader_options or None,
                    force=force)
    return _summary(spark, "COPY INTO", path,
                    loaded_files=res["loadedFiles"],
                    skipped_files=res["skippedFiles"],
                    version=res["version"])


def _kv_options(p: _P) -> dict[str, str]:
    """``('k' = 'v', k2 = 'v2')`` → dict (keys quoted or bare)."""
    p.expect_op("(")
    out: dict[str, str] = {}
    while True:
        t = p.peek()
        if t is None:
            raise ValueError("unterminated options list")
        key = p.string("option key") if t.kind == "str" \
            else p.ident("option key")
        p.expect_op("=")
        v = p.peek()
        if v is None:
            raise ValueError("option with no value")
        if v.kind == "str":
            val = p.string()
        elif v.kind in ("num", "word"):
            p.i += 1
            val = v.raw
        else:
            raise ValueError(f"bad option value: {v.raw!r}")
        out[key] = val
        if p.eat_op(","):
            continue
        p.expect_op(")")
        return out


def _stmt_insert(spark: SparkSession, p: _P) -> DataFrame:
    from pyspark.sql import functions as F

    from .sources.manifest_source import (
        _table_schema,
        load_manifest,
        register,
        write_frame,
    )

    p.expect("INSERT")
    overwrite = False
    if p.eat("OVERWRITE"):
        overwrite = True
        p.eat("TABLE")  # optional noise word
    else:
        p.expect("INTO")
    path = p.table()
    try:
        m = load_manifest(path)
    except (FileNotFoundError, ValueError, OSError) as exc:
        raise ValueError(
            f"INSERT target does not exist: {path!r} — create it "
            "first (CREATE TABLE ... AS)") from exc
    st = _table_schema(m)
    fields = list(st.fields)
    replace_scope = None
    if not overwrite and p.eat("REPLACE", "WHERE"):
        # Delta's `INSERT INTO t REPLACE WHERE <scope> <query>` — the
        # BACKFILL statement over `overwrite_where`: one atomic
        # commit replaces exactly the rows in scope.  The engine's
        # scope grammar is the range form pruning understands:
        # `col BETWEEN lo AND hi` or `col = lit`.
        scol = p.ident("REPLACE WHERE column")
        if scol not in {f.name for f in fields}:
            raise ValueError(f"REPLACE WHERE column {scol!r} not in "
                             "table schema")
        always_ids = sorted(
            c for c, d in (m.get("identityCols") or {}).items()
            if d.get("always", True))
        if always_ids:
            # the backfill must supply every column, but GENERATED
            # ALWAYS identity refuses explicit values (Delta's
            # contract) — refuse up front rather than silently
            # accepting unvalidated ids through the rewrite leg
            raise ValueError(
                "REPLACE WHERE is not supported on a table with "
                f"GENERATED ALWAYS AS IDENTITY column(s) {always_ids} "
                "(the backfill must supply every column, and ALWAYS "
                "identity refuses explicit values; declare GENERATED "
                "BY DEFAULT to backfill ids)")

        def lit(what: str):
            neg = p.eat_op("-")
            t = p.peek()
            if t is not None and t.kind == "num":
                p.i += 1
                v = float(t.raw) if "." in t.raw else int(t.raw)
                return -v if neg else v
            if t is not None and t.kind == "str" and not neg:
                return p.string(what)
            raise ValueError(f"REPLACE WHERE expects a number or "
                             f"string literal for {what}")

        if p.eat("BETWEEN"):
            lo = lit("lower bound")
            p.expect("AND")
            hi = lit("upper bound")
        elif p.eat_op("="):
            lo = hi = lit("scope value")
        else:
            raise ValueError(
                "REPLACE WHERE supports `col BETWEEN lo AND hi` and "
                "`col = literal` (the stats-prunable range forms)")
        replace_scope = (scol, lo, hi)
    # optional explicit column list: `INSERT INTO t (a, c) ...` —
    # omitted columns fall to the write path's DEFAULT fill /
    # GENERATED compute / NULL alignment, exactly the SQL contract
    t = p.peek()
    if t is not None and t.up == "(":
        names = p.paren_cols()
        by_name = {f.name: f for f in fields}
        unknown = [n for n in names if n not in by_name]
        if unknown:
            raise ValueError(f"INSERT column(s) not in table schema: "
                             f"{unknown}")
        if overwrite:
            raise ValueError("INSERT OVERWRITE requires the full "
                             "column set (it replaces the table)")
        fields = [by_name[n] for n in names]
    query = p.slice(p.i, None)
    if not query:
        raise ValueError("INSERT requires a query (SELECT/VALUES)")
    register(spark)
    df = spark.sql(_rewrite_graft_refs(spark, query))
    if len(df.columns) != len(fields):
        raise ValueError(
            f"INSERT arity mismatch: query has {len(df.columns)} "
            f"columns, target column list has {len(fields)}")
    # ANSI INSERT conforms BY POSITION: rename + cast to the target
    # columns so `VALUES (...)`'s col1/col2 names never leak.  The
    # rename is toDF (positional), never by-name resolution —
    # unaliased query outputs like `(id * 1.5)` contain dots the
    # column parser would read as struct access
    df = df.toDF(*[f.name for f in fields])
    df = df.select(*[
        F.col(f.name).cast(f.dataType) for f in fields])
    stat_cols = _live_stat_cols(m)
    if replace_scope is not None:
        from .sources.manifest_source import overwrite_where

        if len(fields) != len(st.fields):
            raise ValueError(
                "REPLACE WHERE requires the full column set (the "
                "scope's rows are REPLACED, so omitted columns have "
                "no value to keep)")
        scol, lo, hi = replace_scope
        overwrite_where(df, path, scol, lo, hi,
                        stat_cols or [scol])
        m2 = load_manifest(path)
        return _summary(spark, "INSERT REPLACE WHERE", path,
                        version=m2.get("version"))
    write_frame(df, path, "overwrite" if overwrite else "append",
                statCols=",".join(stat_cols) if stat_cols else None)
    m2 = load_manifest(path)
    return _summary(spark,
                    "INSERT OVERWRITE" if overwrite else "INSERT",
                    path, version=m2.get("version"))


def _stmt_create(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import (
        load_manifest,
        register,
        write_manifest_table,
    )

    p.expect("CREATE")
    replace = p.eat("OR", "REPLACE")
    if p.eat("VIEW"):
        # CREATE [OR REPLACE] VIEW <name> AS <query> (round 10):
        # stored SQL in the catalog, expanded at query time
        from .sources.metastore import create_view_entry

        name = p.ident("view name")
        p.expect("AS")
        query = p.slice(p.i, None)
        if not query:
            raise ValueError("CREATE VIEW requires a query")
        # validate eagerly: a view that cannot analyze should fail at
        # CREATE, not at first use (catalog refs resolve too)
        spark.sql(_rewrite_graft_refs(spark, query)).schema
        create_view_entry(spark, name, query, or_replace=replace)
        return _summary(spark, "CREATE OR REPLACE VIEW" if replace
                        else "CREATE VIEW", name)
    p.expect("TABLE")
    if_not_exists = p.eat("IF", "NOT", "EXISTS")
    if replace and if_not_exists:
        raise ValueError("OR REPLACE and IF NOT EXISTS conflict")
    t = p.peek()
    if (t is not None and t.kind == "word"
            and t.up not in ("GRAFT.", "MANIFEST.", "DELTA.")):
        # NAME form (round 10): CREATE TABLE <name> [USING GRAFT]
        # [LOCATION '<path>'] [AS <query>] — catalog registration
        return _create_named(spark, p, replace, if_not_exists)
    path = p.table()
    t = p.peek()
    if t is not None and t.up == "(":
        # declared-schema DDL (round 11): CREATE TABLE `path` (cols)
        return _create_declared(spark, p, path, replace,
                                if_not_exists)
    if t is not None and t.up in ("SHALLOW", "DEEP", "CLONE", "LIKE"):
        return _create_clone_like(spark, p, path, replace,
                                  if_not_exists)
    p.expect("AS")
    query = p.slice(p.i, None)
    if not query:
        raise ValueError("CREATE TABLE ... AS requires a query")
    register(spark)
    exists = True
    try:
        m = load_manifest(path)
    except (FileNotFoundError, ValueError, OSError):
        exists = False
    if exists and not replace:
        if if_not_exists:
            return _summary(spark, "CREATE TABLE AS (exists)", path,
                            version=m.get("version"))
        raise ValueError(
            f"table already exists: {path!r} (use CREATE OR REPLACE "
            "TABLE to replace it, or IF NOT EXISTS to no-op)")
    df = spark.sql(_rewrite_graft_refs(spark, query))
    write_manifest_table(df, path, _default_stat_cols(df))
    m = load_manifest(path)
    return _summary(spark, "CREATE OR REPLACE TABLE AS" if replace
                    else "CREATE TABLE AS", path,
                    version=m.get("version"))


#: column-def clause starters — a type/expression slice ends at one of
#: these (paren/angle depth 0)
_COLDEF_STOPS = {"NOT", "DEFAULT", "GENERATED", "COMMENT", "CONSTRAINT"}

#: hidden-partition transforms the PARTITIONED BY clause recognizes
_PART_TRANSFORMS = {"date", "year", "month", "hour", "bucket",
                    "truncate"}


def _slice_until(p: _P, stops: set[str]) -> str:
    """Raw text from the cursor to the next ``,``/``)`` or stop
    keyword at paren/angle depth 0 (types like ``DECIMAL(12,2)`` /
    ``ARRAY<STRUCT<a: INT>>`` and expressions with calls stay
    whole)."""
    depth = angle = 0
    j = p.i
    while j < len(p.toks):
        t = p.toks[j]
        if t.up == "(":
            depth += 1
        elif t.up == ")":
            if depth == 0:
                break
            depth -= 1
        elif t.up == "<":
            angle += 1
        elif t.up == ">":
            angle -= 1
        elif depth == 0 and angle <= 0 and (
                t.up == "," or (t.kind == "word" and t.up in stops)):
            break
        j += 1
    out = p.slice(p.i, j)
    p.i = j
    return out


def _signed_int(p: _P, what: str) -> int:
    neg = p.eat_op("-")
    t = p.peek()
    if t is None or t.kind != "num" or "." in t.raw:
        raise ValueError(f"expected integer {what}, got "
                         f"{t.raw if t else 'end of statement'!r}")
    p.i += 1
    return -int(t.raw) if neg else int(t.raw)


def _parse_create_body(spark: SparkSession, p: _P,
                       allow_location: bool) -> dict:
    """Parse a DECLARED-SCHEMA create body from the ``(`` after the
    table reference: the column list (types, NOT NULL, DEFAULT,
    GENERATED ALWAYS AS (expr), GENERATED ALWAYS|BY DEFAULT AS
    IDENTITY, table-level CONSTRAINT ... CHECK) and the layout
    clauses (PARTITIONED BY with plain columns and/or hidden
    transforms, CLUSTER BY, TBLPROPERTIES, LOCATION).  Returns the
    kwargs for ``create_declared_table`` plus ``location``."""
    from pyspark.sql.types import StructType

    p.expect_op("(")
    cols: list[tuple[str, str]] = []
    constraints: list[dict] = []
    defaults: dict[str, str] = {}
    generated: dict[str, str] = {}
    identity: dict[str, dict] = {}
    comments: dict[str, str] = {}
    while True:
        if p.eat("CONSTRAINT"):
            cname = p.ident("constraint name")
            p.expect("CHECK")
            constraints.append({"name": cname,
                                "check": p.balanced_paren_slice()})
        else:
            name = p.ident("column name")
            dtype = _slice_until(p, _COLDEF_STOPS)
            if not dtype:
                raise ValueError(f"column {name!r} needs a type")
            cols.append((name, dtype))
            while True:
                if p.eat("NOT", "NULL"):
                    constraints.append({"col": name, "notNull": True})
                    continue
                if p.eat("DEFAULT"):
                    expr = _slice_until(p, _COLDEF_STOPS - {"DEFAULT"})
                    if not expr:
                        raise ValueError(
                            f"DEFAULT on {name!r} needs an expression")
                    defaults[name] = expr
                    continue
                if p.eat("GENERATED"):
                    always = True
                    if p.eat("ALWAYS"):
                        pass
                    elif p.eat("BY", "DEFAULT"):
                        always = False
                    else:
                        raise ValueError(
                            "expected ALWAYS or BY DEFAULT after "
                            "GENERATED")
                    p.expect("AS")
                    if p.eat("IDENTITY"):
                        start, step = 1, 1
                        t = p.peek()
                        if t is not None and t.up == "(":
                            p.expect_op("(")
                            while not p.eat_op(")"):
                                if p.eat("START", "WITH"):
                                    start = _signed_int(p, "START WITH")
                                elif p.eat("INCREMENT", "BY"):
                                    step = _signed_int(p,
                                                       "INCREMENT BY")
                                else:
                                    raise ValueError(
                                        "IDENTITY options are START "
                                        "WITH <n> / INCREMENT BY <m>")
                        identity[name] = {"start": start, "step": step,
                                          "always": always}
                    else:
                        if not always:
                            raise ValueError(
                                "GENERATED BY DEFAULT is only valid "
                                "with AS IDENTITY")
                        generated[name] = p.balanced_paren_slice()
                    continue
                if p.eat("COMMENT"):
                    # persisted as the `comment.<col>` property
                    # (round 11) — properties carry through every
                    # lifecycle (restore/clone/checkpoint) for free
                    comments[name] = p.string("column comment")
                    continue
                break
        if p.eat_op(","):
            continue
        p.expect_op(")")
        break
    if not cols:
        raise ValueError("CREATE TABLE requires at least one column")
    ddl = ", ".join(f"`{n}` {t}" for n, t in cols)
    try:
        schema = StructType.fromDDL(ddl)
    except Exception as exc:
        raise ValueError(f"cannot parse declared schema {ddl!r}: "
                         f"{exc}") from exc

    part_cols: list[str] = []
    gen_items: list[str] = []
    cluster: list[str] = []
    props: dict = {}
    location: str | None = None
    while not p.done():
        if p.eat("USING", "GRAFT") or p.eat("USING", "MANIFEST"):
            continue
        if p.eat("PARTITIONED", "BY"):
            p.expect_op("(")
            while True:
                word = p.ident("partition column or transform")
                t = p.peek()
                if t is not None and t.up == "=":
                    p.i += 1
                    tr = p.ident("transform").lower()
                    gen_items.append(
                        f"{word}={tr}({p.balanced_paren_slice()})")
                elif (t is not None and t.up == "("
                        and word.lower() in _PART_TRANSFORMS):
                    args = p.balanced_paren_slice()
                    src = args.split(",")[-1].strip().strip("`")
                    gen_items.append(
                        f"{src}_{word.lower()}={word.lower()}({args})")
                else:
                    part_cols.append(word)
                if p.eat_op(","):
                    continue
                p.expect_op(")")
                break
            continue
        if p.eat("CLUSTER", "BY"):
            cluster = p.paren_cols()
            continue
        if p.eat("TBLPROPERTIES"):
            props.update(_kv_options(p))
            continue
        if p.eat("COMMENT"):
            comments[""] = p.string("table comment")
            continue
        if p.at("LOCATION"):
            if not allow_location:
                raise ValueError(
                    "LOCATION is redundant on a path-addressed CREATE "
                    "TABLE (the backtick path IS the location)")
            p.expect("LOCATION")
            location = p.string("location path")
            continue
        if p.at("AS"):
            raise ValueError(
                "CREATE TABLE with a declared column list does not "
                "take AS <query> — CREATE then INSERT INTO")
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    # comments persist in the PROPERTIES map (`comment` for the
    # table, `comment.<col>` per column) — carried by every
    # lifecycle with zero new state machinery
    for c, v in comments.items():
        props["comment" if c == "" else f"comment.{c}"] = v
    return {"schema": schema, "constraints": constraints,
            "column_defaults": defaults, "generated_cols": generated,
            "identity_cols": identity, "partition_cols": part_cols,
            "partition_gen": ",".join(gen_items),
            "cluster_by": cluster, "properties": props,
            "location": location}


def _create_declared(spark: SparkSession, p: _P, path: str,
                     replace: bool, if_not_exists: bool) -> DataFrame:
    """``CREATE TABLE `path` (cols...) ...`` — the declared-schema
    create at an explicit path (``sources.manifest_source.
    create_declared_table``)."""
    from .sources.manifest_source import create_declared_table

    body = _parse_create_body(spark, p, allow_location=False)
    body.pop("location")
    m = create_declared_table(
        spark, path, body.pop("schema"), or_replace=replace,
        if_not_exists=if_not_exists, **body)
    return _summary(spark, "CREATE OR REPLACE TABLE" if replace
                    else "CREATE TABLE", path,
                    version=m.get("version"))


def _create_clone_like(spark: SparkSession, p: _P, dst: str,
                       replace: bool, if_not_exists: bool) -> DataFrame:
    """``CREATE TABLE <dst> SHALLOW|DEEP CLONE <src> [VERSION AS OF n
    | TIMESTAMP AS OF '<ts>']`` → ``clone_manifest`` (Delta's CLONE
    statement: shallow references the source's files zero-copy, deep
    hard-links/copies for vacuum immunity), and ``CREATE TABLE <dst>
    LIKE <src>`` → an EMPTY table carrying the source's full declared
    contract (schema, constraints, defaults, generated columns,
    identity DEFINITIONS restarting at their declared START, partition
    spec, clustering, properties) — no data, fresh history."""
    from .sources.manifest_source import (
        clone_manifest,
        create_declared_table,
        load_manifest,
        resolve_version,
    )

    if p.eat("LIKE"):
        src = p.table()
        if not p.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{p.slice(p.i, None)!r}")
        m = create_declared_table(
            spark, dst, or_replace=replace,
            if_not_exists=if_not_exists, **_like_kwargs(src))
        return _summary(spark, "CREATE TABLE LIKE", dst,
                        version=m.get("version"))
    deep = bool(p.eat("DEEP"))
    if not deep and not p.eat("SHALLOW"):
        raise ValueError(
            "CLONE requires an explicit depth: CREATE TABLE <dst> "
            "SHALLOW CLONE <src> (zero-copy file references — source "
            "VACUUM can invalidate them) or DEEP CLONE <src> "
            "(hard-link/copy, vacuum-immune)")
    p.expect("CLONE")
    src = p.table()
    version = None
    if p.eat("VERSION", "AS", "OF"):
        t = p.peek()
        if t is None or t.kind != "num":
            raise ValueError("VERSION AS OF requires a version number")
        p.i += 1
        version = int(t.raw)
    elif p.eat("TIMESTAMP", "AS", "OF"):
        version = resolve_version(
            src, {"timestampasof": p.string("timestamp")})
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    if replace:
        raise ValueError(
            "CREATE OR REPLACE ... CLONE is not supported — DROP/"
            "remove the destination first (a clone's v0 must be the "
            "source snapshot, not a rewrite of existing history)")
    if if_not_exists:
        try:
            m = load_manifest(dst)
        except (FileNotFoundError, ValueError, OSError):
            m = None
        if m is not None:
            return _summary(spark, "CLONE (exists)", dst,
                            version=m.get("version"))
    m = clone_manifest(src, dst, version=version, copy_data=deep)
    return _summary(spark, "DEEP CLONE" if deep else "SHALLOW CLONE",
                    dst, version=m.get("version"),
                    num_files=len([f for f in m["files"]
                                   if not f.get("dead")]))


def _like_kwargs(src: str) -> dict:
    """The source table's declared contract as
    ``create_declared_table`` kwargs (CREATE TABLE LIKE): identity
    definitions keep start/step/always but DROP the high-water mark —
    the new table allocates from its declared START."""
    from .sources.manifest_source import _table_schema, load_manifest

    m = load_manifest(src)
    props = dict(m.get("properties") or {})
    pcols = [c for c in str(props.pop("partitionCols", "")).split(",")
             if c]
    gen_items = []
    for g in (m.get("partitionGen") or []):
        if "n" in g:
            gen_items.append(f"{g['name']}={g['transform']}"
                             f"({g['n']},{g['src']})")
        else:
            gen_items.append(f"{g['name']}={g['transform']}"
                             f"({g['src']})")
    return {
        "schema": _table_schema(m),
        "constraints": [dict(c) for c in (m.get("constraints") or [])],
        "column_defaults": dict(m.get("columnDefaults") or {}),
        "generated_cols": dict(m.get("generatedCols") or {}),
        "identity_cols": {
            k: {kk: vv for kk, vv in v.items() if kk != "high"}
            for k, v in (m.get("identityCols") or {}).items()},
        "partition_cols": pcols,
        "partition_gen": ",".join(gen_items),
        "cluster_by": list(m.get("clusterBy") or []),
        "properties": props,
    }


def _create_named_declared(spark: SparkSession, p: _P, name: str,
                           replace: bool,
                           if_not_exists: bool) -> DataFrame:
    """``CREATE TABLE <name> (cols...) ...`` — declared-schema create
    registered in the catalog: MANAGED under the catalog dir unless
    the body carries LOCATION."""
    from .sources.manifest_source import (
        create_declared_table,
        load_manifest,
    )
    from .sources.metastore import create_table_entry, drop_table_entry

    body = _parse_create_body(spark, p, allow_location=True)
    location = body.pop("location")
    entry = create_table_entry(spark, name, location,
                               or_replace=replace,
                               if_not_exists=if_not_exists)
    if not entry["created"]:  # IF NOT EXISTS on an existing name
        m = load_manifest(entry["location"])
        return _summary(spark, "CREATE TABLE (exists)",
                        entry["location"], version=m.get("version"))
    try:
        m = create_declared_table(
            spark, entry["location"], body.pop("schema"),
            or_replace=replace, if_not_exists=if_not_exists, **body)
    except BaseException:
        if not replace:
            drop_table_entry(spark, name, if_exists=True)
        raise
    return _summary(spark, "CREATE OR REPLACE TABLE" if replace
                    else "CREATE TABLE", entry["location"],
                    version=m.get("version"))


def _create_named(spark: SparkSession, p: _P, replace: bool,
                  if_not_exists: bool) -> DataFrame:
    """CREATE TABLE <name>: catalog registration (metastore-lite).
    With LOCATION and no query: register an EXISTING manifest table
    (external).  With AS <query>: CTAS at the location — or, with no
    LOCATION, MANAGED under the catalog directory.  After this the
    name works everywhere a backtick path does, including
    ``graft.<name>`` in queries."""
    from .sources.manifest_source import (
        load_manifest,
        register,
        write_manifest_table,
    )
    from .sources.metastore import create_table_entry, drop_table_entry

    name = p.ident("table name")
    t = p.peek()
    if t is not None and t.up == "(":
        # declared-schema DDL (round 11): CREATE TABLE name (cols)
        return _create_named_declared(spark, p, name, replace,
                                      if_not_exists)
    if t is not None and t.up in ("SHALLOW", "DEEP", "CLONE", "LIKE"):
        # clone/LIKE into a MANAGED location under the catalog dir.
        # The OR REPLACE CLONE refusal must fire BEFORE the catalog
        # is touched — otherwise a guaranteed-to-fail statement would
        # repoint/create the entry and leave it behind (round-11
        # review finding)
        if replace and t.up != "LIKE":
            raise ValueError(
                "CREATE OR REPLACE ... CLONE is not supported — DROP/"
                "remove the destination first (a clone's v0 must be "
                "the source snapshot, not a rewrite of existing "
                "history)")
        entry = create_table_entry(spark, name, None,
                                   or_replace=replace,
                                   if_not_exists=if_not_exists)
        if not entry["created"]:  # IF NOT EXISTS on an existing name
            m = load_manifest(entry["location"])
            return _summary(spark, "CREATE TABLE (exists)",
                            entry["location"],
                            version=m.get("version"))
        try:
            return _create_clone_like(spark, p, entry["location"],
                                      replace, if_not_exists)
        except BaseException:
            if not replace:
                drop_table_entry(spark, name, if_exists=True)
            raise
    p.eat("USING", "GRAFT") or p.eat("USING", "MANIFEST")
    location = None
    if p.eat("LOCATION"):
        location = p.string("location path")
    if p.eat("AS"):
        query = p.slice(p.i, None)
        if not query:
            raise ValueError("CREATE TABLE ... AS requires a query")
        entry = create_table_entry(spark, name, location,
                                   or_replace=replace,
                                   if_not_exists=if_not_exists)
        path = entry["location"]
        if not entry["created"]:  # IF NOT EXISTS on an existing name
            m = load_manifest(path)
            return _summary(spark, "CREATE TABLE AS (exists)", path,
                            version=m.get("version"))
        register(spark)
        try:
            df = spark.sql(_rewrite_graft_refs(spark, query))
            write_manifest_table(df, path, _default_stat_cols(df))
        except BaseException:
            if entry["created"] and not replace:
                drop_table_entry(spark, name, if_exists=True)
            raise
        m = load_manifest(path)
        return _summary(spark, "CREATE OR REPLACE TABLE AS" if replace
                        else "CREATE TABLE AS", path,
                        version=m.get("version"))
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    if location is None:
        raise ValueError(
            "CREATE TABLE <name> requires LOCATION '<path>' (to "
            "register an existing table) or AS <query> (to create "
            "one)")
    try:
        m = load_manifest(location)
    except (FileNotFoundError, ValueError, OSError) as exc:
        raise ValueError(
            f"no manifest table at LOCATION {location!r} — CONVERT "
            "TO GRAFT an existing parquet directory or use CREATE "
            "TABLE ... AS to materialize one") from exc
    entry = create_table_entry(spark, name, location,
                               or_replace=replace,
                               if_not_exists=if_not_exists)
    return _summary(spark, "CREATE TABLE" if entry["created"]
                    else "CREATE TABLE (exists)", entry["location"],
                    version=m.get("version"))


def _sql_str(s: str) -> str:
    """A string literal the front-end lexer reads back verbatim
    (backslashes doubled first — `_P.string` applies Spark's escape
    table — then embedded quotes doubled)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


def _render_create_table(m: dict, ref: str,
                         location: str | None = None) -> str:
    """Render a manifest table's PERSISTED contract as re-executable
    DDL — the `SHOW CREATE TABLE` body (round 11 — VERDICT r10 task
    3).  Everything the v-current state declares is carried: column
    types, NOT NULL, DEFAULT, GENERATED ALWAYS AS, IDENTITY (START
    WITH resumes from the live high-water mark so a recreated table
    never re-issues allocated values), table-level CHECK constraints
    (stats-bounds constraints render as equivalent CHECKs),
    PARTITIONED BY (first-class columns + hidden transforms), CLUSTER
    BY, and TBLPROPERTIES (minus ``partitionCols``, which PARTITIONED
    BY re-derives; non-string property values round-trip as strings —
    the SQL grammar's representation).  Executing the output yields
    an empty table with an equivalent contract, pinned by the
    round-trip pytest."""
    from .sources.manifest_source import _table_schema

    st = _table_schema(m)
    cons = list(m.get("constraints") or [])
    defaults = m.get("columnDefaults") or {}
    gens = m.get("generatedCols") or {}
    idents = m.get("identityCols") or {}
    not_null = {c["col"] for c in cons
                if c.get("col") and c.get("notNull")}
    all_props = m.get("properties") or {}
    col_lines = []
    for f in st.fields:
        parts = [f"  `{f.name}` {f.dataType.simpleString().upper()}"]
        ccomment = all_props.get(f"comment.{f.name}")
        if f.name in not_null or not f.nullable:
            parts.append("NOT NULL")
        if f.name in defaults:
            parts.append(f"DEFAULT {defaults[f.name]}")
        if f.name in gens:
            parts.append(f"GENERATED ALWAYS AS ({gens[f.name]})")
        if f.name in idents:
            d = idents[f.name]
            kind = "ALWAYS" if d.get("always", True) else "BY DEFAULT"
            step = int(d.get("step", 1))
            # resume past what this table already allocated: a table
            # recreated from this DDL must never re-issue a value
            high = d.get("high")
            start = (int(d.get("start", 1)) if high is None
                     else int(high) + step)
            parts.append(f"GENERATED {kind} AS IDENTITY "
                         f"(START WITH {start} INCREMENT BY {step})")
        if ccomment is not None:
            parts.append(f"COMMENT {_sql_str(ccomment)}")
        col_lines.append(" ".join(parts))

    def lit(v):
        return _sql_str(v) if isinstance(v, str) else repr(v)

    seq = 0
    for c in cons:
        if c.get("check"):
            col_lines.append(f"  CONSTRAINT {c['name']} "
                             f"CHECK ({c['check']})")
        elif c.get("min") is not None or c.get("max") is not None:
            # stats-bounds constraint (API form): render the
            # equivalent CHECK — same rows refused on round-trip
            terms = []
            if c.get("min") is not None:
                terms.append(f"`{c['col']}` >= {lit(c['min'])}")
            if c.get("max") is not None:
                terms.append(f"`{c['col']}` <= {lit(c['max'])}")
            seq += 1
            col_lines.append(
                f"  CONSTRAINT {c['col']}_bounds_{seq} "
                f"CHECK ({' AND '.join(terms)})")

    out = [f"CREATE TABLE {ref} (", ",\n".join(col_lines), ")",
           "USING GRAFT"]
    props = {k: v for k, v in all_props.items()
             if k != "comment" and not k.startswith("comment.")}
    tbl_comment = all_props.get("comment")
    if tbl_comment is not None:
        out.append(f"COMMENT {_sql_str(tbl_comment)}")
    pcols = [c for c in str(props.pop("partitionCols", "")).split(",")
             if c]
    gen_items = []
    for g in (m.get("partitionGen") or []):
        if "n" in g:
            gen_items.append(f"{g['name']} = {g['transform']}"
                             f"({g['n']}, {g['src']})")
        else:
            gen_items.append(
                f"{g['name']} = {g['transform']}({g['src']})")
    if pcols or gen_items:
        out.append("PARTITIONED BY ("
                   + ", ".join(pcols + gen_items) + ")")
    if m.get("clusterBy"):
        out.append("CLUSTER BY (" + ", ".join(m["clusterBy"]) + ")")
    if props:
        out.append("TBLPROPERTIES ("
                   + ", ".join(f"{_sql_str(k)} = {lit(v)}"
                               for k, v in sorted(props.items()))
                   + ")")
    if location is not None:
        out.append(f"LOCATION {_sql_str(location)}")
    return "\n".join(out)


def _one_string_df(spark: SparkSession, col: str, val: str):
    from pyspark.sql.types import StringType, StructField, StructType

    return spark.createDataFrame(
        [(val,)], StructType([StructField(col, StringType(), False)]))


def _stmt_show(spark: SparkSession, p: _P) -> DataFrame:
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .sources.metastore import list_tables

    p.expect("SHOW")
    if p.eat("CREATE", "TABLE"):
        from .sources.manifest_source import load_manifest

        t = p.peek()
        named = (t is not None and t.kind == "word"
                 and t.up not in ("GRAFT.", "MANIFEST.", "DELTA."))
        if named and "." not in t.raw.rstrip("."):
            # catalog name: render the NAME form (views render their
            # stored SQL; external tables carry LOCATION)
            from .sources.metastore import resolve_ref

            name = p.ident("table name")
            if not p.done():
                raise ValueError(f"unexpected trailing tokens: "
                                 f"{p.slice(p.i, None)!r}")
            kind, payload = resolve_ref(spark, name)
            if kind == "view":
                return _one_string_df(
                    spark, "createtab_stmt",
                    f"CREATE VIEW {name} AS {payload}")
            managed = any(r["name"] == name.lower() and r["managed"]
                          for r in list_tables(spark))
            return _one_string_df(
                spark, "createtab_stmt",
                _render_create_table(
                    load_manifest(payload), name,
                    location=None if managed else payload))
        path = p.table()
        if not p.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{p.slice(p.i, None)!r}")
        return _one_string_df(
            spark, "createtab_stmt",
            _render_create_table(load_manifest(path),
                                 "`" + path.replace("`", "``") + "`"))
    if p.eat("PARTITIONS"):
        from .sources.manifest_source import load_manifest

        path = p.table()
        if not p.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{p.slice(p.i, None)!r}")
        m = load_manifest(path)
        live = [f for f in m["files"] if not f.get("dead")]
        pcols = [c for c in str((m.get("properties") or {})
                                .get("partitionCols", "")).split(",")
                 if c]
        gen_names = [g["name"] for g in (m.get("partitionGen") or [])]
        cols = pcols + gen_names
        seen = sorted({c for f in live
                       for c in (f.get("partition") or {})})
        cols += [c for c in seen if c not in cols]
        if not cols:
            raise ValueError(
                f"SHOW PARTITIONS: table {path!r} is not partitioned")
        # metadata-only: one row per live partition-value combo with
        # its file count and DV-adjusted row count — the per-partition
        # COUNT(*) a maintenance run reads before touching anything
        agg: dict[tuple, list] = {}
        for f in live:
            part = f.get("partition") or {}
            key = tuple(None if part.get(c) is None else str(part[c])
                        for c in cols)
            a = agg.setdefault(key, [0, 0])
            a[0] += 1
            a[1] += f["rows"] - int(f.get("dvRows", 0))
        schema = StructType(
            [StructField(c, StringType(), True) for c in cols]
            + [StructField("num_files", LongType(), False),
               StructField("num_rows", LongType(), False)])
        rows = [(*k, a[0], a[1]) for k, a in agg.items()]
        rows.sort(key=lambda r: tuple((v is None, v or "")
                                      for v in r[:len(cols)]))
        return spark.createDataFrame(rows, schema)
    if p.eat("COLUMNS"):
        from .sources.manifest_source import _table_schema, load_manifest

        if not (p.eat("FROM") or p.eat("IN")):
            raise ValueError("SHOW COLUMNS FROM|IN <table>")
        path = p.table()
        if not p.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{p.slice(p.i, None)!r}")
        st = _table_schema(load_manifest(path))
        schema = StructType([StructField("col_name", StringType(),
                                         False)])
        return spark.createDataFrame([(f.name,) for f in st.fields],
                                     schema)
    if p.eat("TBLPROPERTIES"):
        from .sources.manifest_source import load_manifest

        path = p.table()
        key = None
        t = p.peek()
        if t is not None and t.up == "(":
            # Spark's specific-key form: SHOW TBLPROPERTIES t ('k')
            p.expect_op("(")
            key = (p.string("property key")
                   if (p.peek() is not None
                       and p.peek().kind == "str")
                   else p.ident("property key"))
            p.expect_op(")")
        if not p.done():
            raise ValueError(f"unexpected trailing tokens: "
                             f"{p.slice(p.i, None)!r}")
        props = load_manifest(path).get("properties") or {}
        schema = StructType([
            StructField("key", StringType(), False),
            StructField("value", StringType(), False),
        ])
        if key is not None:
            if key not in props:
                raise ValueError(
                    f"table property {key!r} is not set "
                    f"(table has {sorted(props) or 'none'})")
            return spark.createDataFrame(
                [(key, str(props[key]))], schema)
        return spark.createDataFrame(
            sorted((str(k), str(v)) for k, v in props.items()),
            schema)
    views_only = p.eat("VIEWS")
    if not views_only:
        p.expect("TABLES")
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    schema = StructType([
        StructField("name", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("location", StringType(), False),
        StructField("managed", BooleanType(), False),
    ])
    rows = [r for r in list_tables(spark)
            if not views_only or r["kind"] == "view"]
    return spark.createDataFrame(
        [(r["name"], r["kind"], r["location"], r["managed"])
         for r in rows], schema)


def _stmt_comment(spark: SparkSession, p: _P) -> DataFrame:
    """``COMMENT ON TABLE `t` IS '<text>' | NULL`` — table comment in
    the properties map (``comment`` key; NULL unsets), rendered by
    SHOW CREATE TABLE and carried through restore/clone."""
    from .sources.manifest_source import set_table_properties

    p.expect("COMMENT")
    p.expect("ON")
    p.expect("TABLE")
    path = p.table()
    p.expect("IS")
    val = None if p.eat("NULL") else p.string("table comment")
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    m = set_table_properties(path, {"comment": val})
    return _summary(spark, "COMMENT ON TABLE", path,
                    version=m.get("version"))


def _stmt_drop(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.metastore import drop_table_entry

    p.expect("DROP")
    kind = "view" if p.eat("VIEW") else None
    if kind is None:
        p.expect("TABLE")
        kind = "table"
    if_exists = p.eat("IF", "EXISTS")
    t = p.peek()
    if t is None or t.kind != "word":
        raise ValueError(
            f"DROP {kind.upper()} takes a CATALOG NAME "
            "(path-addressed tables have no catalog entry to drop — "
            "VACUUM/retention govern their data)")
    name = p.ident(f"{kind} name")
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    e = drop_table_entry(spark, name, if_exists=if_exists, kind=kind)
    label = f"DROP {kind.upper()}"
    return _summary(spark, label if e else f"{label} (absent)",
                    e.get("location", name) if e else name)


def _stmt_convert(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import convert_to_manifest

    p.expect("CONVERT")
    p.expect("TO")
    p.eat("GRAFT") or p.eat("MANIFEST")  # optional dialect word
    path = p.table()
    if not p.done():
        raise ValueError(
            f"unexpected trailing tokens: {p.slice(p.i, None)!r}")
    m = convert_to_manifest(spark, path)
    live = [f for f in m["files"] if not f.get("dead")]
    return _summary(spark, "CONVERT TO", path,
                    version=m.get("version"),
                    num_files=len(live),
                    num_rows=sum(f["rows"] for f in live))


def _stmt_truncate(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import truncate_manifest

    p.expect("TRUNCATE")
    p.eat("TABLE")  # optional noise word
    path = p.table()
    if not p.done():
        raise ValueError(
            f"unexpected trailing tokens: {p.slice(p.i, None)!r}")
    m = truncate_manifest(path)
    return _summary(spark, "TRUNCATE", path, version=m.get("version"))


# ----------------------------------------------------------------- DDL


def _stmt_alter(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import (
        add_check_constraint,
        add_generated_column,
        drop_check_constraint,
        drop_column_from_manifest,
        load_manifest,
        rename_column_in_manifest,
        set_cluster_by,
        set_column_default,
        set_table_properties,
    )

    p.expect("ALTER")
    p.expect("TABLE")
    path = p.table()
    if p.eat("ADD", "CONSTRAINT"):
        name = p.ident("constraint name")
        p.expect("CHECK")
        expr = p.balanced_paren_slice()
        m = add_check_constraint(spark, path, name, expr)
        return _summary(spark, "ADD CONSTRAINT", path,
                        version=m.get("version"))
    if p.eat("DROP", "CONSTRAINT"):
        name = p.ident("constraint name")
        m = drop_check_constraint(path, name)
        return _summary(spark, "DROP CONSTRAINT", path,
                        version=m.get("version"))
    if p.eat("ALTER", "COLUMN") or p.eat("CHANGE", "COLUMN"):
        col = p.ident("column")
        if p.eat("SET", "DEFAULT"):
            expr = p.slice(p.i, None)
            if not expr:
                raise ValueError("SET DEFAULT requires an expression")
            m = set_column_default(spark, path, col, expr)
            return _summary(spark, "SET DEFAULT", path,
                            version=m.get("version"))
        if p.eat("DROP", "DEFAULT"):
            m = set_column_default(spark, path, col, None)
            return _summary(spark, "DROP DEFAULT", path,
                            version=m.get("version"))
        if p.eat("TYPE") or p.eat("SET", "DATA", "TYPE"):
            from .sources.manifest_source import widen_column_type

            dtype = p.slice(p.i, None)
            if not dtype:
                raise ValueError("ALTER COLUMN ... TYPE requires a "
                                 "type")
            m = widen_column_type(path, col, dtype)
            return _summary(spark, "WIDEN COLUMN TYPE", path,
                            version=m.get("version"))
        if p.eat("COMMENT"):
            from .sources.manifest_source import (
                _table_schema,
                load_manifest,
            )

            val = (None if p.eat("NULL")
                   else p.string("column comment"))
            if not p.done():
                raise ValueError(f"unexpected trailing tokens: "
                                 f"{p.slice(p.i, None)!r}")
            names = {f.name for f in
                     _table_schema(load_manifest(path)).fields}
            if col not in names:
                raise ValueError(f"unknown column {col!r} "
                                 f"(table has {sorted(names)})")
            m = set_table_properties(path, {f"comment.{col}": val})
            return _summary(spark, "ALTER COLUMN COMMENT", path,
                            version=m.get("version"))
        if p.eat("SYNC", "IDENTITY"):
            from .sources.manifest_source import sync_identity

            if not p.done():
                raise ValueError(f"unexpected trailing tokens: "
                                 f"{p.slice(p.i, None)!r}")
            m = sync_identity(spark, path, [col])
            return _summary(
                spark, "SYNC IDENTITY", path,
                version=m.get("version"),
                high=(m.get("identityCols") or {})
                .get(col, {}).get("high"))
        raise ValueError("ALTER COLUMN supports SET DEFAULT / "
                         "DROP DEFAULT / TYPE <wider type> / "
                         "SYNC IDENTITY")
    if p.eat("ADD", "COLUMN"):
        from .sources.manifest_source import add_column_to_manifest

        name = p.ident("column")
        # everything up to GENERATED (or the end) is the type
        g = p.find("GENERATED")
        dtype = p.slice(p.i, g if g >= 0 else None)
        if not dtype:
            raise ValueError("ADD COLUMN requires a type")
        if g < 0:
            # plain add-column: O(1) metadata commit, old files
            # NULL-fill at read (Delta add-column semantics)
            m = add_column_to_manifest(spark, path, name, dtype)
            return _summary(spark, "ADD COLUMN", path,
                            version=m.get("version"))
        p.i = g
        p.expect("GENERATED", "ALWAYS", "AS")
        expr = p.balanced_paren_slice()
        live = any(not f.get("dead")
                   for f in load_manifest(path)["files"])
        m = add_generated_column(spark, path, name, expr,
                                 dtype=dtype, backfill=live)
        return _summary(spark, "ADD GENERATED COLUMN", path,
                        version=m.get("version"))
    if p.eat("RENAME", "COLUMN"):
        old = p.ident("column")
        p.expect("TO")
        new = p.ident("column")
        m = rename_column_in_manifest(path, old, new)
        return _summary(spark, "RENAME COLUMN", path,
                        version=m.get("version"))
    if p.eat("DROP", "COLUMN"):
        col = p.ident("column")
        m = drop_column_from_manifest(path, col)
        return _summary(spark, "DROP COLUMN", path,
                        version=m.get("version"))
    if p.eat("SET", "TBLPROPERTIES"):
        props = _kv_options(p)
        m = set_table_properties(path, props)
        return _summary(spark, "SET TBLPROPERTIES", path,
                        version=m.get("version"))
    if p.eat("CLUSTER", "BY"):
        if p.eat("NONE"):
            m = set_cluster_by(path, [])
        else:
            m = set_cluster_by(path, p.paren_cols())
        return _summary(spark, "CLUSTER BY", path,
                        version=m.get("version"))
    raise ValueError(
        f"unsupported ALTER TABLE clause: {p.slice(p.i, None)!r}")


# --------------------------------------------------------- maintenance


def _target_rows(m: dict) -> int:
    props = m.get("properties") or {}
    return int(props.get("targetFileRows", 0) or 0) or 1_000_000


def _stmt_optimize(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import (
        load_manifest,
        optimize_manifest,
        zorder_manifest,
    )

    p.expect("OPTIMIZE")
    path = p.table()
    m0 = load_manifest(path)
    target = _target_rows(m0)
    part_where = None
    if p.eat("WHERE"):
        # Delta's OPTIMIZE WHERE: partition-literal equalities only —
        # compaction scope, not a row predicate
        z = p.find("ZORDER")
        part_where = _parse_partition_where(
            p.slice(p.i, z if z >= 0 else None))
        p.i = z if z >= 0 else len(p.toks)
    if p.eat("ZORDER", "BY"):
        if part_where is not None:
            raise ValueError("OPTIMIZE WHERE cannot combine with "
                             "ZORDER BY in this front-end")
        cols = p.paren_cols()
        stat_cols = sorted(set(_live_stat_cols(m0)) | set(cols))
        m = zorder_manifest(spark, path, cols, stat_cols, target)
    else:
        if not p.done():
            raise ValueError(
                f"unexpected OPTIMIZE clause: {p.slice(p.i, None)!r}")
        m = optimize_manifest(spark, path, target,
                              partition_where=part_where)
    return _summary(spark, "OPTIMIZE", path, version=m.get("version"))


def _parse_partition_where(src: str) -> dict:
    """``p = 'v' AND q = 3`` → {p: 'v', q: 3} (literal equalities —
    the OPTIMIZE WHERE scope grammar)."""
    if not src:
        raise ValueError("OPTIMIZE WHERE requires partition "
                         "equalities")
    out: dict = {}
    for part in _split_top_kw(src, "AND"):
        q = _P(part)
        col = q.ident("partition column")
        q.expect_op("=")
        t = q.peek()
        if t is None:
            raise ValueError(
                f"OPTIMIZE WHERE equality with no literal: {part!r}")
        if t.kind == "str":
            out[col] = q.string()
        elif t.kind == "num":
            q.i += 1
            out[col] = float(t.raw) if "." in t.raw else int(t.raw)
        else:
            raise ValueError(
                f"OPTIMIZE WHERE supports only string/number "
                f"literals (got {t.raw!r})")
        if not q.done():
            raise ValueError(
                f"OPTIMIZE WHERE supports only `col = literal` "
                f"equalities (got {part!r})")
    return out


def _stmt_vacuum(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import vacuum_manifest

    p.expect("VACUUM")
    path = p.table()
    keep_versions: int | None = None
    min_age: float | None = None
    dry = False
    while not p.done():
        if p.eat("RETAIN"):
            t = p.peek()
            if t is None or t.kind != "num":
                raise ValueError("RETAIN requires a number")
            p.i += 1
            n = float(t.raw)
            if p.eat("VERSIONS"):
                keep_versions = int(n)
            elif p.eat("HOURS"):
                min_age = n * 3600.0
            else:
                raise ValueError("RETAIN n VERSIONS or RETAIN n HOURS")
        elif p.eat("DRY", "RUN"):
            dry = True
        else:
            raise ValueError(
                f"unexpected VACUUM clause: {p.slice(p.i, None)!r}")
    if keep_versions is None or min_age is None:
        # per-table retention policy (round 11 — VERDICT r10 task 6):
        # a VACUUM with no explicit RETAIN consults the table's
        # `retentionVersions` / `retentionHours` TBLPROPERTIES —
        # governance in table state, Delta's
        # delta.deletedFileRetentionDuration posture.  Explicit
        # RETAIN always wins; absent both, the engine-wide defaults
        # (1 version, 1 hour) apply.
        from .sources.manifest_source import load_manifest

        props = load_manifest(path).get("properties") or {}
        if keep_versions is None:
            keep_versions = int(props.get("retentionVersions", 1))
        if min_age is None:
            min_age = float(props.get("retentionHours", 1.0)) * 3600.0
    res = vacuum_manifest(path, keep_versions=keep_versions,
                          min_age_seconds=min_age, dry_run=dry)
    return _summary(spark, "VACUUM (DRY RUN)" if dry else "VACUUM",
                    path,
                    removed_files=len(res.get("removed_files", [])),
                    removed_manifests=len(
                        res.get("removed_manifests", [])))


def _stmt_describe(spark: SparkSession, p: _P) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .sources.manifest_source import (
        describe_manifest,
        manifest_operations,
    )

    p.expect("DESCRIBE")
    if p.eat("HISTORY"):
        path = p.table()
        from .sources.table_group import _group_snapshots, group_history

        if _group_snapshots(path):
            # a COMMIT-GROUP directory: history is the consistent
            # cuts (one row per snapshot, member pins as JSON)
            schema = StructType([
                StructField("version", LongType(), False),
                StructField("operation", StringType(), False),
                StructField("detail", StringType(), True),
                StructField("committed_at", DoubleType(), True),
            ])
            data = [(int(g["version"]), "GROUP COMMIT",
                     json.dumps(g["tables"], sort_keys=True),
                     float(g["committedAt"])
                     if g.get("committedAt") is not None else None)
                    for g in group_history(path)]
            return spark.createDataFrame(data, schema) \
                .orderBy("version", ascending=False)
        rows = manifest_operations(path)
        schema = StructType([
            StructField("version", LongType(), False),
            StructField("operation", StringType(), False),
            StructField("detail", StringType(), True),
            StructField("committed_at", DoubleType(), True),
        ])
        data = [(int(r["version"]), r["operation"],
                 json.dumps(r["detail"], sort_keys=True)
                 if r.get("detail") is not None else None,
                 float(r["committedAt"])
                 if r.get("committedAt") is not None else None)
                for r in rows]
        return spark.createDataFrame(data, schema) \
            .orderBy("version", ascending=False)
    if p.eat("DETAIL"):
        path = p.table()
        d = describe_manifest(path)
        schema = StructType([
            StructField("version", LongType(), False),
            StructField("num_files", LongType(), False),
            StructField("num_rows", LongType(), False),
            StructField("size_bytes", LongType(), False),
            StructField("partition_columns", StringType(), True),
            StructField("cluster_by", StringType(), True),
            StructField("constraints", StringType(), True),
            StructField("properties", StringType(), True),
            StructField("schema_fields", StringType(), True),
        ])
        row = (int(d["version"]), int(d["numFiles"]),
               int(d["numRows"]), int(d["sizeBytes"]),
               json.dumps(d["partitionColumns"]),
               json.dumps(d["clusterBy"]),
               json.dumps(d["constraints"], sort_keys=True),
               json.dumps(d["properties"], sort_keys=True),
               json.dumps(d["schemaFields"]))
        return spark.createDataFrame([row], schema)
    # plain DESCRIBE [TABLE] <t>: the column listing (ANSI/Spark
    # DESCRIBE), annotated with defaults and generated expressions
    from .sources.manifest_source import _table_schema, load_manifest

    extended = bool(p.eat("EXTENDED") or p.eat("FORMATTED"))
    p.eat("TABLE")  # optional noise word
    path = p.table()
    if not p.done():
        raise ValueError(f"unexpected trailing tokens: "
                         f"{p.slice(p.i, None)!r}")
    m = load_manifest(path)
    st = _table_schema(m)
    defaults = m.get("columnDefaults") or {}
    gens = m.get("generatedCols") or {}
    idents = m.get("identityCols") or {}
    dprops = m.get("properties") or {}
    schema = StructType([
        StructField("col_name", StringType(), False),
        StructField("data_type", StringType(), False),
        StructField("nullable", StringType(), False),
        StructField("comment", StringType(), True),
        StructField("extra", StringType(), True),
    ])
    rows = []
    for f in st.fields:
        extra = None
        if f.name in gens:
            extra = f"GENERATED ALWAYS AS ({gens[f.name]})"
        elif f.name in idents:
            d = idents[f.name]
            extra = (f"GENERATED "
                     f"{'ALWAYS' if d.get('always', True) else 'BY DEFAULT'}"
                     f" AS IDENTITY (START WITH {d.get('start', 1)} "
                     f"INCREMENT BY {d.get('step', 1)})")
        elif f.name in defaults:
            extra = f"DEFAULT {defaults[f.name]}"
        rows.append((f.name, f.dataType.simpleString(),
                     str(f.nullable).lower(),
                     dprops.get(f"comment.{f.name}"), extra))
    if extended:
        # Spark's DESCRIBE EXTENDED shape: the column listing, a
        # separator, then the detail section as key/value rows
        d = describe_manifest(path)
        rows.append(("", "", "", None, None))
        rows.append(("# Detailed Table Information", "", "", None,
                     None))
        for key, val in (
                ("Location", path),
                ("Provider", "GRAFT"),
                ("Version", d["version"]),
                ("Num Files", d["numFiles"]),
                ("Num Rows", d["numRows"]),
                ("Size Bytes", d["sizeBytes"]),
                ("Partition Columns", json.dumps(
                    # declared first-class columns (property) union
                    # file-observed, so an EMPTY declared table still
                    # lists its layout
                    sorted(set(d["partitionColumns"]) | {
                        c for c in str(d["properties"].get(
                            "partitionCols", "")).split(",") if c}) +
                    [f"{g['name']}={g['transform']}" for g in
                     d["partitionGen"]])),
                ("Cluster By", json.dumps(d["clusterBy"])),
                ("Constraints", json.dumps(d["constraints"],
                                           sort_keys=True)),
                ("Properties", json.dumps(d["properties"],
                                          sort_keys=True)),
                ("Retained Versions", json.dumps(
                    d["retainedVersions"]))):
            rows.append((key, str(val), "", None, None))
    return spark.createDataFrame(rows, schema)


def _stmt_restore(spark: SparkSession, p: _P) -> DataFrame:
    from .sources.manifest_source import (
        resolve_version,
        restore_manifest,
    )

    p.expect("RESTORE")
    p.eat("TABLE")  # optional noise word
    path = p.table()
    p.expect("TO")
    if p.eat("VERSION", "AS", "OF"):
        t = p.peek()
        if t is None or t.kind != "num":
            raise ValueError("VERSION AS OF requires a version number")
        p.i += 1
        target = int(t.raw)
    elif p.eat("TIMESTAMP", "AS", "OF"):
        ts = p.string("timestamp")
        target = resolve_version(path, {"timestampasof": ts})
    else:
        raise ValueError("RESTORE supports TO VERSION AS OF <n> and "
                         "TO TIMESTAMP AS OF '<ts>'")
    if not p.done():
        raise ValueError(
            f"unexpected trailing tokens: {p.slice(p.i, None)!r}")
    m = restore_manifest(path, target)
    return _summary(spark, "RESTORE", path, version=m.get("version"))
