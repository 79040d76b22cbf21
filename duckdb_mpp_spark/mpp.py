"""MppSession — the SQL front door.

The reference adds a ParserExtension that string-matches
``CREATE TABLE <std-create> PARTITION BY (<col>) WITH BUCKETS <n>`` and
re-parses the prefix with the stock parser
(``src/parser/mpp_parser_extension.cpp:43-96``). We do the same thing one
level up: a small SQL preprocessor recognizes the reference's DDL/DML
statements, routes them to the distributed-table layer, and hands everything
else (the entire SELECT surface) to ``spark.sql`` — i.e. to Catalyst, which
plays the role the coordinator's embedded DuckDB plays in the reference
(SURVEY §0).

Statement → result:
- ``CREATE TABLE ... PARTITION BY (c) WITH BUCKETS n`` → None
- ``INSERT INTO t VALUES ... | SELECT ...``            → int row count
- ``UPDATE t SET ... [WHERE ...]``                     → int row count
- ``DELETE FROM t [WHERE ...]``                        → int row count
- ``DROP TABLE t``                                     → None (tombstone)
- ``BEGIN / COMMIT / ROLLBACK``                        → None (DDL atomicity
  only, matching src/storage/mpp_transaction.cpp — remote DML was never
  transactional in the reference)
- ``SELECT / WITH / VALUES``                           → DataFrame
- ``EXPLAIN SELECT``                                   → str with the
  reference's ``Shards: k/n`` annotation + Spark physical plan

NotImplemented parity (reference raises the same —
``src/execution/mpp_plan_insert.cpp:14-19``, ``mpp_plan_update.cpp:14-17``,
``src/storage/mpp_catalog.cpp:109-112``, ``mpp_schema_entry.cpp:158-160``):
RETURNING, ON CONFLICT, CREATE TABLE AS, ALTER TABLE.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_mpp_spark import dml as _dml
from duckdb_mpp_spark.catalog import MppCatalog
from duckdb_mpp_spark.table import DistributedTable

# ---------------------------------------------------------------------------
# DDL parsing (string-matcher parity with mpp_parser_extension.cpp:43-96)
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.\"]+)\s*"
    r"\((?P<cols>.*)\)\s*"
    r"PARTITION\s+BY\s*\(\s*(?P<pcol>[\w.\"]+)\s*\)\s*"
    r"WITH\s+BUCKETS\s+(?P<buckets>\d+)(?:\s+(?P<colocated>COLOCATED))?"
    r"(?:\s+SORT\s+BY\s*\(\s*(?P<sortcol>[\w.\"]+)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<name>[\w.\"]+)\s*(?:\((?P<cols>[^)]*)\))?\s*"
    r"(?P<rest>(?:VALUES|SELECT|WITH|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
# SET/WHERE tails are captured raw and split with the quote-aware scanner
# (_find_keyword_top_level) — a regex ' WHERE ' split would match inside
# string literals (``SET note = 'x WHERE y'``) and inside subqueries.
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>[\w.\"]+)\s+SET\s+(?P<rest>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[\w.\"]+)(?P<rest>\s+.*?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _blank_quotes_and_comments(text: str) -> str:
    """Length-preserving blank of single-quoted literals, double-quoted /
    backtick identifiers, ``--`` line comments and ``/* */`` block
    comments, in ONE left-to-right state-machine scan over RAW text.

    Why a state machine and not sequential regex passes (ADVICE r7): with
    quote-blanking applied before comment-blanking, a lone unpaired quote
    INSIDE a comment (``-- don't``) pairs with a later real quote and
    blanks the genuine code between them — that can erase a real ``FROM
    name`` reference and let the WHERE prune a table it must not. Scanned
    left-to-right with comment state tracked, a quote character inside an
    already-open comment is inert. Same reason this function consumes
    single-quoted literals itself rather than composing with a
    literal-only pre-pass: the pre-pass would make the same mis-pairing
    mistake before the state machine ever saw the text."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            # Spark-parser escape rules: ''-doubling and \'
            j = i + 1
            while j < n:
                if text[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            end = j if j < n else n  # unterminated: blank to end (safe)
            for k in range(i + 1, end):
                out[k] = " "
            i = end + 1
        elif ch in ('"', "`"):
            j = text.find(ch, i + 1)
            end = j if j >= 0 else n
            for k in range(i + 1, end):
                out[k] = " "
            i = end + 1
        elif ch == "-" and i + 1 < n and text[i + 1] == "-":
            j = text.find("\n", i)
            end = j if j >= 0 else n
            for k in range(i, end):
                out[k] = " "
            i = end  # newline survives: -- comments are line-scoped
        elif ch == "/" and i + 1 < n and text[i + 1] == "*":
            # Spark supports NESTED bracketed comments (SPARK-28880), so a
            # flat find("*/") would stop at the INNER terminator of
            # '/* a /* b */ VERSION AS OF 1 */' and leave the tail visible
            # to every keyword guard (ADVICE r8: _pin_versions could splice
            # from inside a comment). Track depth; blank until it returns
            # to zero. Unterminated → blank to end (safe direction).
            depth_c, j = 1, i + 2
            while j < n and depth_c:
                if text[j] == "/" and j + 1 < n and text[j + 1] == "*":
                    depth_c += 1
                    j += 2
                elif text[j] == "*" and j + 1 < n and text[j + 1] == "/":
                    depth_c -= 1
                    j += 2
                else:
                    j += 1
            end = j if depth_c == 0 else n
            for k in range(i, end):
                out[k] = " "
            i = end
        else:
            i += 1
    return "".join(out)


def _find_keyword_top_level(text: str, word: str, start: int = 0) -> int:
    """Index of the first standalone ``word`` (case-insensitive) at paren
    depth 0, outside single-quoted literals ('' escapes), double-quoted /
    backtick identifiers, and ``--``/``/* */`` comments; -1 if absent.

    The input is blanked through the comment-aware state machine FIRST
    (review r8, confirmed repro): the old scanner tracked quotes itself
    but was comment-blind, so a lone apostrophe inside a ``--`` comment
    opened a fake literal that swallowed everything to the next real
    quote — ``SELECT .. -- don't\\nUNION ALL SELECT .. WHERE x = 'y'``
    hid the UNION from the set-op pruning guard and silently dropped
    leg-2 rows. Blanking is length-preserving, so every caller's returned
    positions keep mapping 1:1 onto its original text, and no quoted or
    commented text is left for the scan below to skip."""
    text = _blank_quotes_and_comments(text)
    depth, i, n, wl, wu = 0, start, len(text), len(word), word.upper()
    while i < n:
        ch = text[i]
        if ch == "(":
            depth += 1
            i += 1
        elif ch == ")":
            depth -= 1
            i += 1
        elif depth == 0 and text[i : i + wl].upper() == wu:
            before = text[i - 1] if i > 0 else " "
            after = text[i + wl] if i + wl < n else " "
            if not (before.isalnum() or before in "_$.") and not (
                after.isalnum() or after in "_$"
            ):
                return i
            i += 1
        else:
            i += 1
    return -1


def _blank_except_names(text: str) -> str:
    """:func:`_blank_quotes_and_comments`, except that a backtick-quoted
    plain identifier keeps its text (its backticks become spaces):
    `` `t` `` names table ``t`` as surely as ``t`` does, while a literal
    or a comment names nothing."""
    blank = _blank_quotes_and_comments(text)

    def unquote(m: re.Match) -> str:
        inner = text[m.start() + 1 : m.end() - 1]
        return f" {inner} " if re.fullmatch(r"[\w$]+", inner) else m.group(0)

    return re.sub(r"`[^`]*`", unquote, blank)


def _top_level(text: str) -> str:
    """``text`` with every parenthesized span blanked (length-preserving):
    what is left sits at paren depth 0."""
    out, depth = [], 0
    for ch in text:
        depth += ch == "("
        out.append(" " if depth else ch)
        depth -= ch == ")" and depth > 0
    return "".join(out)


def _split_where_tail(rest: str) -> tuple[str, str | None]:
    """Split ``<head> WHERE <pred>`` at the top-level WHERE (quote-aware);
    returns (head, predicate-or-None)."""
    idx = _find_keyword_top_level(rest, "WHERE")
    if idx < 0:
        return rest.strip(), None
    return rest[:idx].strip(), rest[idx + len("WHERE"):].strip() or None
_DROP_RE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<name>[\w.\"]+)\s*;?\s*$",
    re.IGNORECASE,
)

_TYPE_MAP = {
    "INT": "int",
    "INTEGER": "int",
    "INT4": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "USMALLINT": "int",
    "UINTEGER": "bigint",
    "UBIGINT": "long",
    "BIGINT": "long",
    "INT8": "long",
    "HUGEINT": "decimal(38,0)",
    "TEXT": "string",
    "VARCHAR": "string",
    "STRING": "string",
    "CHAR": "string",
    "DOUBLE": "double",
    "FLOAT": "float",
    "REAL": "float",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "DATETIME": "timestamp",
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
}


def _split_top_level(text: str) -> list[str]:
    """Split ``text`` at the commas at paren depth 0 outside literals,
    quoted identifiers and comments; blank pieces are dropped. Separator
    positions are found on the length-preserving
    :func:`_blank_quotes_and_comments` output, so ``SET note = "x, y"`` and
    a comma inside ``/* a, b */`` never split."""
    blank = _blank_quotes_and_comments(text)
    out, depth, last = [], 0, 0
    for i, ch in enumerate(blank):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(text[last:i])
            last = i + 1
    out.append(text[last:])
    return [s.strip() for s in out if s.strip()]


_DEFAULT_CLAUSE_RE = re.compile(
    r"\bDEFAULT\s+(?P<lit>'(?:[^']|'')*'|[-\w.]+(?:\s*\(\s*\))?)",
    re.IGNORECASE,
)


def _convert_type(raw_type: str) -> str:
    """DuckDB type text → Spark DDL type string, including nested
    ``STRUCT(a INT, b TEXT)`` → ``struct<a:int,b:string>``."""
    raw_type = raw_type.strip()
    sm = re.match(r"^STRUCT\s*\((?P<inner>.*)\)$", raw_type, re.IGNORECASE | re.DOTALL)
    if sm:
        fields = []
        for item in _split_top_level(sm.group("inner")):
            fm = re.match(r"^(\"[^\"]+\"|[\w$]+)\s+(.*)$", item, re.DOTALL)
            if not fm:
                raise ValueError(f"cannot parse struct field: {item!r}")
            fields.append(f"{fm.group(1).strip(chr(34))}:{_convert_type(fm.group(2))}")
        return f"struct<{','.join(fields)}>"
    base = re.match(r"[A-Za-z]+", raw_type).group(0).upper()
    if base in _TYPE_MAP and base != "DECIMAL":
        return _TYPE_MAP[base]
    if base in ("DECIMAL", "NUMERIC"):
        return raw_type.lower().replace("numeric", "decimal")
    return raw_type.lower()


def _split_coldef(coldef: str) -> tuple[str, str, str]:
    """Split one column definition into (name, type-text, rest), with the
    type text spanning balanced parens (so STRUCT(...) survives)."""
    m = re.match(r"^(?P<name>\"[^\"]+\"|[\w$]+)\s+(?P<tail>.*)$", coldef, re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse column definition: {coldef!r}")
    tail = m.group("tail")
    tm = re.match(r"^[\w]+", tail)
    if not tm:
        raise ValueError(f"cannot parse column type: {coldef!r}")
    end = tm.end()
    # optional parenthesized argument list (DECIMAL(18,2) / STRUCT(...))
    probe = tail[end:]
    ws = len(probe) - len(probe.lstrip())
    if probe[ws : ws + 1] == "(":
        depth, i = 0, end + ws
        while i < len(tail):
            depth += tail[i] == "("
            depth -= tail[i] == ")"
            i += 1
            if depth == 0:
                break
        end = i
    # lowercase: the engine is lowercase-canonical for identifiers — every
    # reference site (_ident on INSERT column lists, UPDATE SET keys, DDL
    # partition/sort columns) lowercases, so a case-preserving schema field
    # would silently never match (review r4: INSERT INTO t (id, Name) would
    # drop Name's values; Spark SQL resolution is case-insensitive anyway)
    return m.group("name").strip('"').lower(), tail[:end], tail[end:]


def parse_column_defs(
    cols_text: str,
) -> tuple[T.StructType, dict[str, str], list[str]]:
    """Parse ``c0 INT, name TEXT DEFAULT 'foo' NOT NULL`` into a Spark schema
    + per-column default literal map + UNIQUE/PRIMARY KEY column list.
    NOT NULL is recorded as nullability and enforced on the insert path
    (``DistributedTable.insert`` raise_error); UNIQUE / PRIMARY KEY columns
    are enforced bucket-locally at insert time — both matching the reference
    carrying constraints into shard DDL where DuckDB enforces them per
    shard (create_distributed_table.cpp:107). Composite UNIQUE keys raise
    loudly (never silently ignored); CHECK / FOREIGN KEY remain accepted-
    but-unenforced, documented per SURVEY §1.3."""
    fields, defaults, unique_cols = [], {}, []
    table_pk_cols: list[str] = []
    for coldef in _split_top_level(cols_text):
        tm = re.match(
            r"^(?:CONSTRAINT\s+\S+\s+)?(PRIMARY\s+KEY|UNIQUE)\s*\((?P<cols>[^)]*)\)\s*$",
            coldef,
            re.I,
        )
        if tm:
            cols = [c.strip().strip('"').lower() for c in tm.group("cols").split(",")]
            if len(cols) != 1:
                raise NotImplementedError(
                    "composite UNIQUE/PRIMARY KEY constraints are not supported"
                )
            unique_cols.append(cols[0])
            if tm.group(1).upper().startswith("PRIMARY"):
                table_pk_cols.append(cols[0].lower())
            continue
        if re.match(r"^(PRIMARY|UNIQUE|CHECK|FOREIGN|CONSTRAINT)\b", coldef, re.I):
            continue  # other table-level constraint: accepted, not enforced
        name, raw_type, rest = _split_coldef(coldef)
        dtype = T._parse_datatype_string(_convert_type(raw_type))
        dm = _DEFAULT_CLAUSE_RE.search(rest)
        if dm:
            defaults[name] = dm.group("lit")
            rest = rest[: dm.start()] + rest[dm.end() :]  # keep literals out
        up = rest.upper()
        nullable = "NOT NULL" not in up
        if re.search(r"\bPRIMARY\s+KEY\b", up):
            unique_cols.append(name)
            nullable = False  # PRIMARY KEY implies NOT NULL
        elif re.search(r"\bUNIQUE\b", up):
            unique_cols.append(name)
        fields.append(T.StructField(name, dtype, nullable))
    # table-level PRIMARY KEY (col) implies NOT NULL exactly like the
    # inline form (review r4; the constraint may precede or follow the
    # column definition, so this is applied after the loop)
    if table_pk_cols:
        fields = [
            T.StructField(f.name, f.dataType, False)
            if f.name.lower() in table_pk_cols
            else f
            for f in fields
        ]
    # a column can be declared unique both inline and in a table-level
    # constraint — record it once (order-preserving)
    return T.StructType(fields), defaults, list(dict.fromkeys(unique_cols))


# ---------------------------------------------------------------------------


class MppSession:
    """Session wrapper: catalog + SQL routing over one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = MppCatalog(warehouse)
        self._txn_depth = 0
        self._txn_created: list[str] = []
        self._txn_dropped: list[str] = []
        # per-table (kept, total) zone-map file-skip stats of the most
        # recent _register_views_for_query pass — EXPLAIN reads these
        # instead of re-running the skipping decision (table() binds a
        # fresh DistributedTable per call, so the stats live here)
        self.last_file_skip: dict[str, tuple[int, int]] = {}

    # -- python API -------------------------------------------------------
    def create_distributed_table(
        self,
        name: str,
        schema: T.StructType | str,
        partition_column: str,
        buckets: int,
        defaults: dict[str, str] | None = None,
        colocated: bool = False,
        sort_column: str | None = None,
        unique_columns: list[str] | None = None,
    ) -> DistributedTable:
        if isinstance(schema, str):
            schema, parsed_defaults, parsed_unique = parse_column_defs(schema)
            defaults = {**parsed_defaults, **(defaults or {})}
            unique_columns = list(
                dict.fromkeys((unique_columns or []) + parsed_unique)
            )
        meta = self.catalog.create_table(
            name, schema, partition_column, buckets, defaults,
            colocated=colocated, sort_column=sort_column,
            unique_columns=unique_columns,
        )
        if self._txn_depth:
            self._txn_created.append(name)
        tbl = self._bind(meta)
        if not meta.colocated:
            # snapshot-native marker: an empty commit log at create time
            # means "no commit = empty table", so a crashed first insert's
            # staged files are never bootstrap-absorbed (ADVICE r3)
            from duckdb_mpp_spark import manifest as _manifest_mod

            _manifest_mod.init_commit_log(tbl.path)
        return tbl

    def _bind(self, meta) -> DistributedTable:
        if meta.colocated:
            from duckdb_mpp_spark.colocated import ColocatedTable

            return ColocatedTable(self.spark, self.catalog, meta)
        return DistributedTable(self.spark, self.catalog, meta)

    def table(self, name: str) -> DistributedTable:
        return self._bind(self.catalog.get(name))

    def insert_df(self, name: str, df: DataFrame) -> int:
        return self.table(name).insert(df)

    def upsert(
        self,
        name: str,
        df: DataFrame,
        key_cols: list[str],
        stream_batch: tuple[str, int] | None = None,
    ) -> int:
        """MERGE-style upsert (see dml.upsert): key-matched rows replaced,
        others appended, one atomic snapshot commit. ``stream_batch``
        records a streaming micro-batch id in that commit (replay
        detection transactional with the data — manifest.commit)."""
        self._reject_colocated_dml(name, "UPSERT")
        from duckdb_mpp_spark import dml as _dml_mod

        return _dml_mod.upsert(
            self.table(name), df, key_cols, stream_batch=stream_batch
        )

    def master_add_node(self, host: str, port: int) -> None:
        """Compat shim (src/function/master_add_node.cpp) — Spark manages its
        own executors; the node registry only feeds the metadata views.
        Input validation and error texts match the reference's Bind
        (master_add_node.cpp:35-45): NULL host/port and out-of-range ports
        are rejected with its exact messages."""
        if host is None:
            raise ValueError("host cannot be NULL")
        if port is None:
            raise ValueError("port cannot be NULL")
        if port < 0 or port > 0xFFFF:
            raise ValueError(f"Invalid port number: {port}")
        self.catalog.add_node(host, port)

    def remote_query(self, addr: str, sql: str):
        """Compat shim for ``remote_query(addr, sql)``
        (src/function/remote_query.cpp:20-53). The reference streams the
        statement to a peer DuckDB over gRPC; under Spark there are no
        user-visible peer nodes — every query is already cluster-executed —
        so this validates the address against the node registry and runs the
        statement locally (semantically identical: same catalog, same data).
        """
        known = {f"{h}:{p}" for h, p in self.catalog.nodes()}
        if known and addr not in known:
            # the reference surfaces an unreachable peer as a NETWORK-type
            # exception from the gRPC channel (remote_query.cpp:41); the
            # closest Python analog of that failure class is ConnectionError
            # (which is a ValueError-independent OSError — callers catching
            # broad errors still work, and the message carries the address
            # exactly as the gRPC error would)
            raise ConnectionError(
                f"Failed to connect to remote node {addr!r}: "
                f"no reachable peer at that address "
                f"(registered nodes: {sorted(known)})"
            )
        return self.sql(sql)

    def _reject_colocated_dml(self, name: str, verb: str) -> None:
        if self.catalog.get(name).colocated:
            raise NotImplementedError(
                f"{verb} is not supported on COLOCATED tables (append-only "
                "native-bucketed storage; use the directory-per-bucket flavor "
                "for copy-on-write DML)"
            )

    def drop_table(self, name: str) -> None:
        tbl = self.table(name)
        if self.catalog.get(name).colocated:
            tbl.unregister()
        meta = self.catalog.drop_table(name)
        self.spark.catalog.dropTempView(name) if self._view_exists(name) else None
        if self._txn_depth:
            self._txn_dropped.append(name)
        # Files deliberately left behind: reference DROP does not drop worker
        # shard tables (src/storage/mpp_schema_entry.cpp:141-156).
        _ = meta

    # -- transactions (DDL atomicity only, SURVEY §2.A17) -----------------
    def begin(self) -> None:
        if self._txn_depth:
            # DuckDB (and therefore the reference) rejects nested BEGIN;
            # silently resetting the journal would leak the outer
            # transaction's DDL past its ROLLBACK (review r4)
            raise RuntimeError(
                "TransactionContext Error: cannot start a transaction "
                "within a transaction"
            )
        self._txn_depth = 1
        self._txn_created = []
        self._txn_dropped = []

    def commit(self) -> None:
        self._txn_depth = 0
        self._txn_created = []
        self._txn_dropped = []

    def rollback(self) -> None:
        dropped = list(self._txn_dropped)
        for name in self._txn_created:
            try:
                try:
                    meta = self.catalog.get(name)
                except ValueError:
                    # created AND dropped in this txn: resurrect the
                    # tombstone so the create can be fully undone below
                    if name not in dropped:
                        raise
                    meta = self.catalog.restore_table(name)
                    dropped.remove(name)
                if meta.colocated:
                    self._bind(meta).unregister()
                shutil.rmtree(self.catalog.table_path(meta), ignore_errors=True)
                self.catalog.forget_table(name)
                # an intra-txn SELECT registered a temp view for the table;
                # without this the rolled-back table stays silently
                # queryable as an empty/stale view (review r4)
                if self._view_exists(name):
                    self.spark.catalog.dropTempView(name)
            except ValueError:
                pass
        # DROPs of pre-transaction tables are undone too (review r4: the
        # reference's DuckDB-transactional catalog restores the entry; data
        # files were never deleted, so restoring the meta restores the table)
        for name in reversed(dropped):
            try:
                meta = self.catalog.restore_table(name)
                if meta.colocated:
                    self._bind(meta).ensure_registered()
            except ValueError:
                pass
        self._txn_depth = 0
        self._txn_created = []
        self._txn_dropped = []

    # -- SQL front door ---------------------------------------------------
    def sql(self, text: str):
        stripped = text.strip().rstrip(";").strip()
        upper = stripped.upper()

        if upper in ("BEGIN", "BEGIN TRANSACTION", "START TRANSACTION"):
            return self.begin()
        if upper == "COMMIT":
            return self.commit()
        if upper in ("ROLLBACK", "ABORT"):
            return self.rollback()

        # keyword checks run on comment-and-literal-blanked text —
        # 'RETURNING' inside a string value or a comment must not reject
        # the statement (review r4; r8 switched to the state machine so a
        # lone quote inside a comment can't swallow real keywords either)
        blank_upper = _blank_quotes_and_comments(stripped).upper()
        if re.search(r"\bRETURNING\b", blank_upper):
            raise NotImplementedError("RETURNING statement not supported")
        if re.search(r"\bON\s+CONFLICT\b", blank_upper):
            raise NotImplementedError("ON CONFLICT clause not supported")
        if re.match(
            r"^\s*CREATE\s+TABLE\b.*\bAS\s+(SELECT|TABLE|VALUES)\b",
            blank_upper,
            re.DOTALL,
        ):
            raise NotImplementedError("CREATE TABLE AS is not supported")
        if re.match(r"^\s*ALTER\b", upper):
            raise NotImplementedError("ALTER is not supported")
        # reference NotImplemented matrix (src/storage/mpp_schema_entry.cpp:
        # 72-128, src/storage/mpp_catalog.cpp:130-132): indexes, views,
        # sequences, custom types, and schema drops on MPP schemas
        if re.match(r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", upper):
            raise NotImplementedError("CreateIndex is not supported")
        if re.match(r"^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(ORARY)?\s+)?VIEW\b", upper):
            raise NotImplementedError("CreateView is not supported")
        if re.match(r"^\s*CREATE\s+(TEMP(ORARY)?\s+)?SEQUENCE\b", upper):
            raise NotImplementedError("CreateSequence is not supported")
        if re.match(r"^\s*CREATE\s+TYPE\b", upper):
            raise NotImplementedError("CreateType is not supported")
        if re.match(r"^\s*DROP\s+SCHEMA\b", upper):
            raise NotImplementedError("DropSchema is not supported")

        m = _CREATE_RE.match(stripped)
        if m:
            if re.match(
                r"^\s*CREATE\s+TABLE\s+IF\s+NOT\s+EXISTS\b", stripped, re.IGNORECASE
            ) and self.catalog.exists(_ident(m.group("name"))):
                return None  # IF NOT EXISTS: existing table is a no-op (review r4)
            schema, defaults, unique_cols = parse_column_defs(m.group("cols"))
            self.create_distributed_table(
                _ident(m.group("name")), schema, _ident_path(m.group("pcol")),
                int(m.group("buckets")), defaults,
                colocated=bool(m.group("colocated")),
                sort_column=_ident(m.group("sortcol")) if m.group("sortcol") else None,
                unique_columns=unique_cols,
            )
            return None

        m = _INSERT_RE.match(stripped)
        if m and self.catalog.exists(_ident(m.group("name"))):
            return self._run_insert(m)

        m = _UPDATE_RE.match(stripped)
        if m and self.catalog.exists(_ident(m.group("name"))):
            self._reject_colocated_dml(_ident(m.group("name")), "UPDATE")
            sets_text, where = _split_where_tail(m.group("rest"))
            assignments = {}
            for part in _split_top_level(sets_text):
                col, _, expr = part.partition("=")
                assignments[_ident(col.strip())] = expr.strip()
            tbl = self.table(_ident(m.group("name")))
            # binder parity (review r4): SET on an unknown column must be a
            # loud error, not a silent full-rewrite no-op that reports rows
            known = {f.name.lower() for f in tbl.meta.schema.fields}
            for col in assignments:
                if col.lower() not in known:
                    raise ValueError(
                        f'Binder Error: column "{col}" does not exist in '
                        f'table "{tbl.meta.name}"'
                    )
            return _dml.update(tbl, assignments, where)

        m = _DELETE_RE.match(stripped)
        if m and self.catalog.exists(_ident(m.group("name"))):
            self._reject_colocated_dml(_ident(m.group("name")), "DELETE")
            head, where = _split_where_tail(m.group("rest") or "")
            if head:  # DELETE ... USING etc. — not the supported shape
                raise NotImplementedError(f"unsupported DELETE clause: {head!r}")
            return _dml.delete(self.table(_ident(m.group("name"))), where)

        m = _DROP_RE.match(stripped)
        if m:
            name = _ident(m.group("name"))
            if not self.catalog.exists(name) and "IF EXISTS" in upper:
                return None
            return self.drop_table(name)

        # SHOW TABLES lists the MPP catalog's live distributed tables
        # (test/sql/mpp.test:41-44 asserts t1 appears after CREATE and the
        # list is empty after DROP — tombstones excluded). Falling through to
        # spark.sql would list temp views instead, which is wrong here.
        if upper == "SHOW TABLES":
            names = sorted(self.catalog._tables)
            return self.spark.createDataFrame(
                [(n,) for n in names], T.StructType([T.StructField("name", T.StringType(), False)])
            )

        # DESCRIBE HISTORY t — the commit log as rows (Delta-style), one per
        # retained snapshot; feeds `VERSION AS OF` version discovery.
        hm = re.match(
            r"^\s*(?:DESCRIBE|DESC)\s+HISTORY\s+(?P<name>[\w.\"]+)\s*$",
            stripped,
            re.IGNORECASE,
        )
        if hm and self.catalog.exists(_ident(hm.group("name"))):
            name = _ident(hm.group("name"))
            if self.catalog.get(name).colocated:
                raise NotImplementedError(
                    "DESCRIBE HISTORY is not supported on COLOCATED tables"
                )
            return self.spark.createDataFrame(
                self.table(name).history(),
                "version long, n_files long, n_rows long",
            )

        dm = re.match(r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(?P<name>[\w.\"]+)\s*$", stripped, re.IGNORECASE)
        if dm and self.catalog.exists(_ident(dm.group("name"))):
            return self._describe(_ident(dm.group("name")))

        # VACUUM t — reclaim data files unreferenced by the current snapshot
        # (COW leftovers / crashed writers) and prune the commit log; returns
        # the number of files removed. Physical deletion is deliberately
        # decoupled from the commit that unreferences them (table._commit).
        vm = re.match(r"^\s*VACUUM\s+(?P<name>[\w.\"]+)\s*$", stripped, re.IGNORECASE)
        if vm and self.catalog.exists(_ident(vm.group("name"))):
            name = _ident(vm.group("name"))
            if self.catalog.get(name).colocated:
                return 0  # Spark-managed bucketed storage; nothing to reclaim
            return self.table(name).vacuum()

        # OPTIMIZE t [FILES n] — compact each bucket down to n (default 1)
        # files (Delta's statement name for the same operation). Appends
        # accumulate one file set per insert; compaction rewrites via the
        # same stage → snapshot-publish commit as DML, re-clustering SORT BY
        # tables. Returns the number of buckets rewritten.
        om = re.match(
            r"^\s*OPTIMIZE\s+(?P<name>[\w.\"]+)(\s+FILES\s+(?P<n>\d+))?\s*$",
            stripped,
            re.IGNORECASE,
        )
        if om and self.catalog.exists(_ident(om.group("name"))):
            name = _ident(om.group("name"))
            self._reject_colocated_dml(name, "OPTIMIZE")
            return self.table(name).compact(int(om.group("n") or 1))

        if re.match(r"^\s*COPY\b", stripped, re.IGNORECASE):
            return self._run_copy(stripped)

        sm = re.match(r"^\s*SUMMARIZE\s+(?P<name>[\w.\"]+)\s*$", stripped, re.IGNORECASE)
        if sm and self.catalog.exists(_ident(sm.group("name"))):
            return self._summarize(_ident(sm.group("name")))

        if upper.startswith("EXPLAIN"):
            inner = stripped[len("EXPLAIN"):].strip()
            return self.explain(inner)

        return self._run_select(stripped)

    # -- internals --------------------------------------------------------
    _DESCRIBE_TYPE = {
        "int": "INTEGER", "smallint": "SMALLINT", "tinyint": "TINYINT",
        "bigint": "BIGINT", "string": "VARCHAR", "double": "DOUBLE",
        "float": "FLOAT", "date": "DATE", "timestamp": "TIMESTAMP",
        "boolean": "BOOLEAN",
    }

    def _describe(self, name: str) -> DataFrame:
        """DESCRIBE <distributed table> — DuckDB-shaped output
        (column_name, column_type, null, key, default, extra)."""
        meta = self.catalog.get(name)
        rows = []
        for f in meta.schema.fields:
            s = f.dataType.simpleString()
            rows.append(
                (
                    f.name,
                    self._DESCRIBE_TYPE.get(s, s.upper()),
                    "YES" if f.nullable else "NO",
                    None,
                    meta.defaults.get(f.name),
                    None,
                )
            )
        schema = T.StructType(
            [
                T.StructField("column_name", T.StringType(), False),
                T.StructField("column_type", T.StringType(), False),
                T.StructField("null", T.StringType(), False),
                T.StructField("key", T.StringType(), True),
                T.StructField("default", T.StringType(), True),
                T.StructField("extra", T.StringType(), True),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def _view_exists(self, name: str) -> bool:
        try:
            return any(t.name == name for t in self.spark.catalog.listTables())
        except Exception:
            return False

    def _run_insert(self, m: re.Match) -> int:
        name = _ident(m.group("name"))
        tbl = self.table(name)
        cols_clause = m.group("cols")
        rest = m.group("rest").strip().rstrip(";")
        schema = tbl.meta.schema
        target_cols = (
            [_ident(c.strip()) for c in cols_clause.split(",")]
            if cols_clause
            else [f.name for f in schema.fields]
        )
        known = {f.name for f in schema.fields}
        for c in target_cols:
            if c not in known:
                raise ValueError(
                    f'Binder Error: column "{c}" does not exist in '
                    f'table "{name}"'
                )
        if rest.upper().startswith("VALUES"):
            values_body = rest[len("VALUES"):].strip()
            names = ", ".join(target_cols)
            src = self.spark.sql(f"SELECT * FROM VALUES {values_body} AS __v({names})")
        else:
            self._register_views_for_query(rest)
            src = self.spark.sql(rest)
            src = src.toDF(*target_cols)
        # missing columns → declared default or NULL (ResolveDefaults parity,
        # src/execution/mpp_physical_insert.cpp:150-181); insert casts
        # every column to its declared type
        exprs = []
        for field in schema.fields:
            if field.name in target_cols:
                exprs.append(F.col(field.name))
            else:
                default = tbl.meta.defaults.get(field.name, "NULL")
                exprs.append(F.expr(default).cast(field.dataType).alias(field.name))
        return tbl.insert(src.select(*exprs))

    def _substitute_system_views(self, query: str) -> str:
        # the views are built (three DataFrames) only for a statement that
        # names them, never on every front-door SELECT
        if not re.search(r"__mpp_system\.", query, re.IGNORECASE):
            return query
        self.catalog.register_system_views(self.spark)
        return re.sub(
            r"\b(?:[\w]+\.)?__mpp_system\.(nodes|tables|shards)\b",
            r"mpp_\1",
            query,
            flags=re.IGNORECASE,
        )

    def _rewrite_qualify(self, query: str) -> str:
        """DuckDB dialect: rewrite a top-level ``QUALIFY <pred>`` (window
        filter, inherited by the reference from DuckDB) into
        ``SELECT * EXCEPT (__qualify) FROM (<select with pred as a column>)
        WHERE __qualify`` — Spark has no QUALIFY clause. Window functions
        (and lateral select-alias references) are legal in a select list,
        so hoisting the predicate there preserves semantics exactly.
        Guarded edges (ADVICE r3 — raise clearly instead of silently
        changing semantics): QUALIFY nested in a subquery (Spark's parser
        would fail with an unrelated error), and QUALIFY under SELECT
        DISTINCT (hoisting the predicate into the select list would change
        the DISTINCT key set)."""
        q = _find_keyword_top_level(query, "QUALIFY")
        if q < 0:
            # fallback guard scans the same comment-and-literal-blanked
            # text as the scanner (review r8b: after the comment-aware
            # switch, 'qualify' inside a comment was invisible to the
            # scanner but still matched the raw-text fallback, rejecting
            # a valid query with NotImplementedError)
            no_strings = _blank_quotes_and_comments(query)
            if re.search(r"\bQUALIFY\b", no_strings, re.IGNORECASE):
                raise NotImplementedError(
                    "QUALIFY is supported at the top level of a query only "
                    "(rewrite the subquery to filter on a windowed column)"
                )
            return query
        # The DISTINCT guard must inspect the MAIN select, not the query
        # prefix — a WITH-prefixed query's top-level SELECT sits after the
        # CTE list (review r4; CTE bodies are paren-nested, so the first
        # depth-0 SELECT is the main one).
        sidx = max(_find_keyword_top_level(query, "SELECT"), 0)
        if re.match(r"^\s*SELECT\s+DISTINCT\b", query[sidx:], re.IGNORECASE):
            raise NotImplementedError(
                "QUALIFY with SELECT DISTINCT is not supported (the hoisted "
                "window predicate would join the DISTINCT key set); apply "
                "DISTINCT in an outer query instead"
            )
        pstart = q + len("QUALIFY")
        pend = len(query)
        for kw in ("ORDER", "LIMIT", "WINDOW"):
            k = _find_keyword_top_level(query, kw, pstart)
            if 0 <= k < pend:
                pend = k
        pred = query[pstart:pend].strip()
        head, tail = query[:q].rstrip(), query[pend:]
        fidx = _find_keyword_top_level(head, "FROM")
        if fidx < 0:
            return query
        inner = f"{head[:fidx].rstrip()}, ({pred}) AS __qualify {head[fidx:]}"
        return (
            f"SELECT * EXCEPT (__qualify) FROM ({inner}) AS __qualify_sub "
            f"WHERE __qualify {tail}"
        )

    _DISTINCT_ON_RE = re.compile(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)

    def _rewrite_distinct_on(self, query: str) -> str:
        """DuckDB dialect: ``SELECT DISTINCT ON (keys) list FROM ... ORDER
        BY o`` keeps the first row per key group under ``o`` — rewritten to
        a ROW_NUMBER window filtered to 1 (Spark has no DISTINCT ON).
        Requires a top-level ORDER BY (same determinism DuckDB needs) whose
        columns appear in the select list."""
        m = self._DISTINCT_ON_RE.match(query)
        if not m:
            return query
        # find the keys' matching close paren (scanner-aware)
        depth, i = 0, m.end() - 1
        while i < len(query):
            if query[i] == "(":
                depth += 1
            elif query[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        keys = query[m.end(): i]
        rest = query[i + 1:]
        oidx = _find_keyword_top_level(rest, "ORDER")
        if oidx < 0:
            raise NotImplementedError(
                "DISTINCT ON requires a top-level ORDER BY"
            )
        body, order_tail = rest[:oidx].rstrip(), rest[oidx:]
        lidx = _find_keyword_top_level(order_tail, "LIMIT")
        order_by = re.sub(
            r"^ORDER\s+BY\s+",
            "",
            order_tail[: lidx if lidx >= 0 else len(order_tail)].strip(),
            flags=re.IGNORECASE,
        )
        fidx = _find_keyword_top_level(body, "FROM")
        if fidx < 0:
            return query
        inner = (
            f"SELECT {body[:fidx].strip()}, ROW_NUMBER() OVER "
            f"(PARTITION BY {keys} ORDER BY {order_by}) AS __rn {body[fidx:]}"
        )
        return (
            f"SELECT * EXCEPT (__rn) FROM ({inner}) AS __distinct_on_sub "
            f"WHERE __rn = 1 {order_tail}"
        )

    def _extract_time_travel(self, query: str) -> tuple[str, dict[str, int]]:
        """Strip ``<table> VERSION AS OF <n>`` clauses (Delta-style time
        travel syntax) and return the pinned version per table; the view for
        a pinned table is then registered from that snapshot."""
        versions: dict[str, int] = {}
        for name in self.catalog._tables:
            pat = rf"\b({re.escape(name)})\s+VERSION\s+AS\s+OF\s+(\d+)\b"
            # match against comment-and-literal-blanked text (review
            # r4: the clause inside a string value must neither mutate the
            # literal nor pin the table; r8: a clause inside a COMMENT must
            # not pin either), then splice the ORIGINAL text at the match
            # spans — blanking is length-preserving so positions map 1:1
            blank = _blank_quotes_and_comments(query)
            out, pos = [], 0
            for m in re.finditer(pat, blank, flags=re.IGNORECASE):
                versions[name] = int(m.group(2))
                out.append(query[pos:m.start()])
                out.append(query[m.start(1):m.end(1)])  # keep the table name
                pos = m.end()
            if pos:
                out.append(query[pos:])
                query = "".join(out)
        return query, versions

    def _distributed_tables_in(self, query: str) -> list[str]:
        # names inside literals and comments are not references
        text = _blank_except_names(query)
        return [
            name for name in self.catalog._tables
            if re.search(rf"\b{re.escape(name)}\b", text, re.IGNORECASE)
        ]

    def _where_span(self, query: str) -> tuple[int, int] | None:
        """(start, end) of the top-level WHERE predicate text, located with
        the quote/paren-aware scanner (a blind regex would match WHERE inside
        string literals or CTE bodies)."""
        idx = _find_keyword_top_level(query, "WHERE")
        if idx < 0:
            return None
        start = idx + len("WHERE")
        end = len(query)
        # UNION/INTERSECT/EXCEPT terminate the clause too (review r4): the
        # first leg's WHERE must not bleed into the second SELECT's text —
        # bounds derived from the other leg's conjuncts would skip files
        # this leg needs.
        for kw in (
            "GROUP", "ORDER", "HAVING", "LIMIT", "QUALIFY", "WINDOW",
            "UNION", "INTERSECT", "EXCEPT",
        ):
            k = _find_keyword_top_level(query, kw, start)
            if 0 <= k < end:
                end = k
        return start, end

    def _where_text(self, query: str) -> str | None:
        span = self._where_span(query)
        return query[span[0]:span[1]].strip() if span else None

    _NON_ALIAS_KEYWORDS = frozenset(
        "FROM WHERE GROUP ORDER AND OR AS IN IS NOT JOIN ON LIMIT HAVING BY "
        "ASC DESC LEFT RIGHT INNER OUTER FULL CROSS SEMI ANTI USING UNION "
        "INTERSECT EXCEPT SET NATURAL LATERAL QUALIFY WINDOW".split()
    )

    def _prune_qualifiers(self, query: str, name: str) -> set[str] | None:
        """The one prune rule: the names that qualify distributed table
        ``name``'s columns when the query's top-level WHERE may prune it,
        or None when it may not.

        The WHERE may prune ``name`` only when ``name`` is named exactly
        once outside literals and comments, and that one reference sits at
        paren depth 0 in the main SELECT's FROM clause, which the WHERE
        directly follows and which holds no LEFT/RIGHT/FULL/SEMI/ANTI
        join. Every occurrence not followed by ``.`` counts as a
        reference, backtick-quoted ones too; a ``name.``-qualified column
        does not. So a self-join, a CTE body, a derived table, a subquery,
        a later set-op leg or the nullable side of an outer join reads
        unpruned, and Catalyst applies the full WHERE either way. This is
        the reference's rule in text form: it prunes a shard only on the
        filters DuckDB's optimizer pushed into that one scan
        (``src/function/mpp_table_scan.cpp:355-371``). The qualifiers are
        ``name`` and the alias that follows the reference."""
        text = _blank_except_names(query)
        refs = [
            m.start()
            for m in re.finditer(
                rf"(?<![\w$]){re.escape(name)}(?![\w$])(?!\s*\.)",
                text,
                re.IGNORECASE,
            )
        ]
        span = self._where_span(query)
        where = span[0] - len("WHERE") if span else -1
        sel = _find_keyword_top_level(query, "SELECT")
        frm = _find_keyword_top_level(query, "FROM", sel) if sel >= 0 else -1
        if len(refs) != 1 or not 0 <= frm < refs[0] < where:
            return None
        clause = _top_level(text[frm:where])
        if clause[refs[0] - frm] == " " or re.search(
            r"\b(?:SELECT|UNION|INTERSECT|EXCEPT|MINUS|LEFT|RIGHT|FULL|SEMI|ANTI)\b",
            clause,
            re.IGNORECASE,
        ):
            return None
        quals = {name.lower()}
        alias = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", text[refs[0] + len(name):])
        if alias and alias.group(1).upper() not in self._NON_ALIAS_KEYWORDS:
            quals.add(alias.group(1).lower())
        return quals

    def _rewrite_where_aliases(self, query: str) -> str:
        """DuckDB allows select-list aliases in WHERE (``SELECT id AS c0 ...
        WHERE c0=1``, test/sql/mpp_filter.test:55); Spark resolves lateral
        aliases only in the select list. Substitute simple column aliases
        back into the WHERE text so the inherited surface matches."""
        sel = _find_keyword_top_level(query, "SELECT")
        frm = _find_keyword_top_level(query, "FROM", sel + 6 if sel >= 0 else 0)
        span = self._where_span(query)
        if sel < 0 or frm < 0 or span is None:
            return query
        sel_text = query[sel + 6 : frm]
        # a leading DISTINCT/ALL is a quantifier, not an expression — without
        # stripping it, "DISTINCT region" parses as expr=DISTINCT alias=region
        # and the WHERE rewrite emits garbage (review r4)
        sel_text = re.sub(r"^\s*(?:DISTINCT|ALL)\b", "", sel_text, flags=re.IGNORECASE)
        mapping = {}
        for item in _split_top_level(sel_text):
            am = re.match(r"^([A-Za-z_][\w.]*)\s+(?:AS\s+)?([A-Za-z_]\w*)$", item, re.IGNORECASE)
            if am and am.group(2).upper() not in ("FROM",) and am.group(1) != am.group(2):
                mapping[am.group(2).lower()] = am.group(1)
        if not mapping:
            return query
        # Aliases that shadow a real column of a referenced distributed table
        # resolve to the base column in both DuckDB and Spark — don't rewrite.
        shadowed = set()
        for tname in self._distributed_tables_in(query):
            for f in self.catalog.get(tname).schema.fields:
                shadowed.add(f.name.lower())
        # Substitute IN PLACE on the original WHERE text: word positions are
        # found on a literal-blanked copy (string contents can't match) and
        # spliced back by span, so every non-word character — multi-char
        # operators like ``||`` / ``::``, whitespace, parens — survives
        # verbatim (review r4: the old tokenize-and-rejoin split ``||`` into
        # ``| |``). Qualified (dotted) refs are matched whole and skipped.
        where_txt = query[span[0]:span[1]]
        blank = _blank_quotes_and_comments(where_txt)
        out, pos, changed = [], 0, False
        word_re = re.compile(
            r"[A-Za-z_][A-Za-z_0-9$]*(?:\.[A-Za-z_][A-Za-z_0-9$]*)*"
        )
        for m in word_re.finditer(blank):
            word = m.group(0)
            if "." in word:
                continue
            base = mapping.get(word.lower())
            if base is not None and word.lower() not in shadowed:
                out.append(where_txt[pos:m.start()])
                out.append(base)
                pos = m.end()
                changed = True
        if not changed:
            return query
        out.append(where_txt[pos:])
        return query[: span[0]] + "".join(out) + query[span[1]:]

    def _rowid_referenced(self, query: str) -> bool:
        """True when the query references the ``rowid`` pseudo-column as a
        bare word token (string literals don't count — same lexer as
        pruning)."""
        from duckdb_mpp_spark.pruning import _tokenize

        toks = _tokenize(query)
        if toks is None:
            return bool(re.search(r"\browid\b", query, re.IGNORECASE))
        return any(
            kind == "word" and val.lower().split(".")[-1] == "rowid"
            for kind, val in toks
        )

    def _register_views_for_query(
        self, query: str, versions: dict[str, int] | None = None
    ) -> list[str]:
        versions = versions or {}
        names = self._distributed_tables_in(query)
        where = self._where_text(query)
        self.last_file_skip = {}
        # rowid pseudo-column (reference projects DuckDB's shard-local rowid,
        # mpp_table_scan.cpp:310-322): exposed on the view only when the
        # query references it, mirroring DuckDB's expose-on-reference rule.
        # Known divergence: within such a query, SELECT * also expands
        # rowid (a view has no pseudo-columns) — documented in tests.
        if names and self._rowid_referenced(query):
            if any(n in versions for n in names):
                # rowids are derived from the HEAD snapshot's file offsets;
                # serving head-rowid rows labeled as a pinned version would
                # be silently wrong (review r4)
                raise NotImplementedError(
                    "rowid is not supported together with VERSION AS OF"
                )
            for name in names:
                tbl = self.table(name)
                if tbl.meta.colocated:
                    # no rowid surface on native-bucketed storage; a query
                    # that actually references ITS rowid fails resolution
                    tbl.scan().createOrReplaceTempView(name)
                else:
                    tbl.scan_with_rowid().createOrReplaceTempView(name)
            return names
        for name in names:
            tbl = self.table(name)
            if name in versions:
                # version-pinned read (time travel): plain snapshot scan —
                # Catalyst still pushes filters; pruning shortcuts target
                # the live head only
                tbl.scan(version=versions[name]).createOrReplaceTempView(name)
                continue
            # The view embeds ONLY the derived __bucket predicate (directory
            # pruning) and the zone-map-skipped file list; the user's WHERE
            # is applied in full by spark.sql itself, so both remain pure
            # optimizations.
            quals = (
                self._prune_qualifiers(query, name)
                if where and len(names) == 1 and not tbl.meta.colocated
                else None
            )
            if quals is not None:
                df = tbl.pruned_read(where, quals).drop("__bucket")
                if tbl.last_file_skip is not None:
                    self.last_file_skip[name] = tbl.last_file_skip
            else:
                df = tbl.scan()
            df.createOrReplaceTempView(name)
        return names

    def _summarize(self, name: str) -> DataFrame:
        """DuckDB's ``SUMMARIZE t`` (inherited surface): one row per column
        with min / max / distinct count / null count / row count. EXACT
        variant — DuckDB's approx_unique is replaced by a true distinct
        count so the result is engine-deterministic (and oracle-checkable);
        all columns are computed in ONE aggregation pass over the table
        (every stat is a parallel aggregate; no per-column scans)."""
        tbl = self.table(name)
        df = tbl.scan()
        aggs = []
        for f in tbl.meta.schema.fields:
            c = F.col(f.name)
            aggs += [
                F.min(c).cast("string").alias(f"{f.name}__min"),
                F.max(c).cast("string").alias(f"{f.name}__max"),
                F.count_distinct(c).alias(f"{f.name}__distinct"),
                F.count(F.when(c.isNull(), 1)).alias(f"{f.name}__nulls"),
                F.count(F.lit(1)).alias(f"{f.name}__count"),
            ]
        row = df.agg(*aggs).collect()[0]  # one row — O(#columns) driver data
        out = [
            (
                f.name,
                f.dataType.simpleString(),
                row[f"{f.name}__min"],
                row[f"{f.name}__max"],
                row[f"{f.name}__distinct"],
                row[f"{f.name}__nulls"],
                row[f"{f.name}__count"],
            )
            for f in tbl.meta.schema.fields
        ]
        return self.spark.createDataFrame(
            out,
            "column_name string, column_type string, min string, max string, "
            "n_distinct long, null_count long, count long",
        )

    _COPY_OPTS_RE = re.compile(r"\(\s*(?P<opts>[^)]*)\)\s*$")

    @staticmethod
    def _copy_format(path: str, opts: str) -> tuple[str, dict[str, str]]:
        """(spark format, reader/writer options) from a COPY options list /
        file extension. DuckDB defaults COPY to CSV-with-header unless the
        extension or FORMAT says otherwise."""
        m = re.search(r"\bFORMAT\s+'?(\w+)'?", opts, re.IGNORECASE)
        fmt = (m.group(1) if m else os.path.splitext(path)[1].lstrip(".") or "csv").lower()
        if fmt not in ("parquet", "csv", "json"):
            raise NotImplementedError(f"COPY format {fmt!r} not supported")
        options: dict[str, str] = {}
        if fmt == "csv":
            header = "true"
            hm = re.search(r"\bHEADER\s+(\w+)", opts, re.IGNORECASE)
            if hm:
                header = "true" if hm.group(1).lower() in ("true", "1", "on") else "false"
            options = {"header": header, "inferSchema": "true"}
        return fmt, options

    def _run_copy(self, stripped: str):
        """DuckDB's COPY statement (inherited surface the reference keeps):
        ``COPY <table|(query)> TO '<path>' [(opts)]`` exports (the target is
        a directory of part files — the Spark-native shape; parallel
        writers, any scale), ``COPY <table> FROM '<path>' [(opts)]``
        imports through the bucketed insert path. Both return the row
        count, like DuckDB."""
        to_idx = _find_keyword_top_level(stripped, "TO")
        from_idx = _find_keyword_top_level(stripped, "FROM")
        body = stripped[len("COPY"):].strip()

        if to_idx > 0 and (from_idx < 0 or to_idx < from_idx):
            src = stripped[len("COPY"):to_idx].strip()
            rest = stripped[to_idx + 2:].strip()
            pm = re.match(r"^'(?P<path>[^']+)'\s*(?P<opts>.*)$", rest, re.DOTALL)
            if not pm:
                raise ValueError(f"COPY TO: cannot parse target in {stripped!r}")
            path, opts = pm.group("path"), pm.group("opts")
            fmt, options = self._copy_format(path, opts)
            # Spark's overwrite recursively deletes the target DIRECTORY —
            # strictly more destructive than DuckDB's single-file overwrite
            # (ADVICE r3). A non-empty pre-existing target therefore needs
            # an explicit opt-in: COPY ... TO '<path>' (OVERWRITE).
            if os.path.exists(path) and not re.search(
                r"\bOVERWRITE(\s+(TRUE|1|ON))?\b", opts, re.IGNORECASE
            ):
                if os.path.isfile(path) or os.listdir(path):
                    raise ValueError(
                        f"COPY TO target '{path}' already exists and is not "
                        "empty; pass (OVERWRITE) to replace it (the target "
                        "is a DIRECTORY of part files — Spark-native "
                        "divergence from DuckDB's single file — and "
                        "overwrite deletes it recursively)"
                    )
            if src.startswith("("):
                df = self._run_select(src[1:-1].strip())
            else:
                df = self._run_select(f"SELECT * FROM {src}")
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).cast("long").alias("n"))
            w = observed.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                w = w.option("header", options.get("header", "true"))
            w.save(path)
            try:
                return int(obs.get["n"])
            except Exception:
                # AQE empty-relation propagation can plan CollectMetrics
                # away for provably-empty inputs (COPY (SELECT ... WHERE
                # 1=0)) — same hazard dml._observed_matched guards
                # (review r4); the recount is free on this path.
                return df.count()

        if from_idx > 0:
            name = _ident(stripped[len("COPY"):from_idx].strip())
            rest = stripped[from_idx + 4:].strip()
            pm = re.match(r"^'(?P<path>[^']+)'\s*(?P<opts>.*)$", rest, re.DOTALL)
            if not pm:
                raise ValueError(f"COPY FROM: cannot parse source in {stripped!r}")
            path, opts = pm.group("path"), pm.group("opts")
            fmt, options = self._copy_format(path, opts)
            reader = self.spark.read.format(fmt)
            for k, v in options.items():
                reader = reader.option(k, v)
            return self.table(name).insert(reader.load(path))

        raise ValueError(f"unsupported COPY statement: {stripped!r}")

    def _prepare_select(self, query: str) -> tuple[str, list[str]]:
        """The front door's one SELECT rewrite — system views, time travel,
        QUALIFY, DISTINCT ON, WHERE aliases — then view registration.
        Returns the rewritten query and the distributed tables it reads."""
        query = self._substitute_system_views(query)
        query, versions = self._extract_time_travel(query)
        query = self._rewrite_qualify(query)
        query = self._rewrite_distinct_on(query)
        query = self._rewrite_where_aliases(query)
        return query, self._register_views_for_query(query, versions)

    def _run_select(self, query: str) -> DataFrame:
        return self.spark.sql(self._prepare_select(query)[0])

    def explain(self, query: str) -> str:
        """Reference-style EXPLAIN: Shards: k/n for the (single) distributed
        table plus the Spark formatted physical plan."""
        query, names = self._prepare_select(query)
        header = []
        where = self._where_text(query)
        for name in names:
            tbl = self.table(name)
            # multi-table scans never embed the derived bucket predicate
            # (review r6). Colocated tables are exempt: their native
            # bucketed scan is pruned by Catalyst itself, and pruning
            # maths == bucketBy maths. The same rule as the view, so the
            # Shards header describes what the registered view scans.
            quals = (
                self._prune_qualifiers(query, name)
                if len(names) == 1 or tbl.meta.colocated
                else None
            )
            if quals is not None:
                ids = tbl.pruned_bucket_ids(where, quals)
            else:
                ids = list(range(tbl.meta.buckets))
            header.append(f"Table: {name}")
            header.append(f"Shards: {len(ids)}/{tbl.meta.buckets}")
            if where:
                header.append(f"Filter: {where}")
            if name in self.last_file_skip:
                # stats computed once, during view registration — no second
                # zone-map pass (ADVICE r2)
                k, n = self.last_file_skip[name]
                header.append(f"Files: {k}/{n}")
        df = self.spark.sql(query)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return "\n".join(header) + "\n" + plan


def _ident(name: str) -> str:
    return name.strip().strip('"').split(".")[-1].lower()


def _ident_path(name: str) -> str:
    """Normalize a possibly-dotted path, KEEPING the dots — used for
    struct-field partition columns (``PARTITION BY (s.a)``)."""
    return ".".join(p.strip().strip('"').lower() for p in name.strip().split("."))
