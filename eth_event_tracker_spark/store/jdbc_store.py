"""JDBC Store/Entry backend — the engine's SQL store and the twin of the
reference's server-side PostgreSQL store (store/postgresql/
postgresql_store.go:79-239: executors write straight to the database,
nothing funnels through the driver).

Parity with the reference's SQL mapping:
  - a single ``kv(key, val)`` table with upsert Set
    (postgresql_store.go:71-76 ``ON CONFLICT (key) DO UPDATE``);
  - one ``logs_<filterhash>`` table per entry, created lazily on
    GetEntry (postgresql_store.go:79-88, DDL at :226-239), plus the
    ``log_index`` column that LOG_SCHEMA carries and the reference's DDL
    drops;
  - ``LastIndex`` = max(indx)+1 (:98-108), ``RemoveLogs`` =
    ``DELETE WHERE indx >= ?`` (:153-158), per-batch ``StoreLogs``
    (:111-150).

The backend takes any JDBC URL and runs the bulk append as
``df.write.jdbc`` — every partition task opens its own connection and
inserts its rows — and exposes the entry as a ``spark.read.jdbc`` scan.
Driver-side point operations (KV get/set, point lookup, tail scan,
truncate) go through ``java.sql.DriverManager`` on the session JVM:
O(1)/O(reorg-depth) row traffic, the same envelopes as the reference's
driver-side pg calls.

The sandbox ships no database server; the conformance suite runs against
**Apache Derby embedded** (already on Spark's classpath for the Hive
metastore) via ``jdbc:derby:<dir>;create=true`` — a single-JVM database,
which ``local[*]`` is.  Against a real server the same code takes
``jdbc:postgresql://host/db`` plus the driver jar; any other URL runs the
``generic`` dialect.

Row codec (this module is its one home): the reference's stringly
encoding (postgresql_store.go:124-141) — topics comma-joined with
'' ⇄ [] and NULL ⇄ None, data as 0x-hex text — decoded back to native
list/bytes on read so rows round-trip identically to the parquet/inmem
backends.  Driver-side writes use ``_encode``; the bulk path applies the
same rule JVM-side (array_join/hex expressions) so the distributed writes
stay in whole-stage codegen.
"""

from __future__ import annotations

import re

_COLUMNS = (
    "indx",
    "log_index",
    "tx_index",
    "tx_hash",
    "block_num",
    "block_hash",
    "address",
    "topics",
    "data",
)

_NAME_OK = re.compile(r"^[0-9a-zA-Z_]+$")


def _table_name(filter_hash: str) -> str:
    # the reference interpolates "logs_" + hash into DDL (:80); hashes are
    # hex so a strict identifier check is both safe and parity-preserving
    if not _NAME_OK.match(filter_hash):
        raise ValueError(f"filter hash {filter_hash!r} is not a SQL-safe identifier")
    return f"logs_{filter_hash}"


def _encode(lg: dict, indx: int) -> tuple:
    topics = lg.get("topics")
    data = lg.get("data")
    return (
        indx,
        lg.get("log_index"),
        lg.get("tx_index"),
        lg.get("tx_hash"),
        lg.get("block_num"),
        lg.get("block_hash"),
        lg.get("address"),
        # empty list encodes as "" (decoded back to []); NULL is reserved
        # for a true None — anonymous events legally carry topics=[] and
        # must round-trip identically to the parquet/inmem backends (the
        # reference's own pg codec is ambiguous here, postgresql_store.go:179-190;
        # our conformance bar is backend agreement, not bug parity)
        None if topics is None else ",".join(topics),
        "0x" + bytes(data).hex() if data is not None else None,
    )


def _decode(row: tuple, columns: tuple = _COLUMNS) -> dict:
    d = dict(zip(columns, row))
    raw_topics = d["topics"]
    d["topics"] = None if raw_topics is None else ([] if raw_topics == "" else raw_topics.split(","))
    d["data"] = bytes.fromhex(d["data"][2:]) if d["data"] else None
    return d


_BIGINT_COLS = {"indx", "log_index", "tx_index", "block_num"}


class JdbcStore:
    """Store over a JDBC database (tested against embedded Derby).

    Writer topology: bulk log appends (``JdbcEntry.append_df``) are
    distributed and safe under concurrent executors (plain INSERTs of
    pre-assigned disjoint indx ranges).  The *driver-side* operations —
    KV set, store_logs, remove_logs — assume a SINGLE tracker driver per
    store, exactly the reference's deployment shape (one Tracker owns one
    filter's entry; tracker.go has no cross-process coordination either).
    KV ``set`` is nevertheless an atomic server-side upsert (MERGE /
    ON CONFLICT) on Derby and PostgreSQL, so even racing drivers cannot
    interleave lost updates there; only the ``generic`` dialect falls
    back to update-then-insert, which is last-writer-wins only under a
    single connection."""

    # SQLStates meaning "object already exists" — Derby (X0Y32) and
    # PostgreSQL (42P07 duplicate_table).  Deliberately NO message-text
    # fallback: an unrelated failure must not be masked as idempotence.
    _DUP_OBJECT_SQLSTATES = {"X0Y32", "42P07"}

    def __init__(self, spark, url: str, driver: str | None = None) -> None:
        self.spark = spark
        self.url = url
        self.driver = driver
        self.dialect = (
            "derby"
            if url.startswith("jdbc:derby:")
            else "postgresql"
            if url.startswith("jdbc:postgresql:")
            else "generic"
        )
        jvm = spark._jvm
        if self.dialect == "derby":
            # keep Derby's log out of the cwd (it writes derby.log on boot)
            jvm.java.lang.System.setProperty("derby.stream.error.file", "/tmp/derby.log")
        if driver:
            jvm.java.lang.Class.forName(driver)
        self._jvm = jvm
        self._conn = jvm.java.sql.DriverManager.getConnection(url)
        # kvSQLSchema twin (postgresql_store.go:222-227).  "key" is a
        # reserved word in Derby; quoted lowercase identifiers throughout —
        # they also match the column names Spark's JDBC writer quotes.
        # Derby has no TEXT type (VARCHAR caps at 32672 and errors rather
        # than truncate on overflow — documented bound); elsewhere use an
        # unbounded TEXT val.
        val_type = "VARCHAR(31500)" if self.dialect == "derby" else "TEXT"
        self._ddl(f'CREATE TABLE kv ("key" VARCHAR(512) PRIMARY KEY, "val" {val_type})')
        self._entries: dict[str, JdbcEntry] = {}

    def _ddl(self, sql: str) -> None:
        st = self._conn.createStatement()
        try:
            st.execute(sql)
        except Exception as e:  # noqa: BLE001 — py4j surfaces SQLException
            state = getattr(getattr(e, "java_exception", None), "getSQLState", lambda: "")()
            if state not in self._DUP_OBJECT_SQLSTATES:  # idempotent create only
                raise
        finally:
            st.close()

    def close(self) -> None:
        self._conn.close()
        if self.url.startswith("jdbc:derby:"):
            # embedded Derby: deboot the database so the files release
            # cleanly (shutdown signals success via SQLException 08006)
            try:
                self._jvm.java.sql.DriverManager.getConnection(
                    self.url.split(";")[0] + ";shutdown=true"
                )
            except Exception:  # noqa: BLE001 — expected on success
                pass

    # -- KV (Get/Set/ListPrefix, postgresql_store.go:49-77) -----------------
    def get(self, key: str) -> str | None:
        ps = self._conn.prepareStatement('SELECT "val" FROM kv WHERE "key" = ?')
        try:
            ps.setString(1, key)
            rs = ps.executeQuery()
            return rs.getString(1) if rs.next() else None
        finally:
            ps.close()

    def set(self, key: str, val: str) -> None:
        """Upsert (postgresql_store.go:71-76 ON CONFLICT): a single atomic
        server-side statement on the dialects that have one — the
        reference's exact semantics on PostgreSQL, MERGE on Derby."""
        if self.dialect == "postgresql":
            ps = self._conn.prepareStatement(
                'INSERT INTO kv ("key", "val") VALUES (?, ?) '
                'ON CONFLICT ("key") DO UPDATE SET "val" = EXCLUDED."val"'
            )
            try:
                ps.setString(1, key)
                ps.setString(2, val)
                ps.executeUpdate()
            finally:
                ps.close()
            return
        if self.dialect == "derby":
            ps = self._conn.prepareStatement(
                "MERGE INTO kv USING SYSIBM.SYSDUMMY1 ON kv.\"key\" = ? "
                'WHEN MATCHED THEN UPDATE SET "val" = ? '
                'WHEN NOT MATCHED THEN INSERT ("key", "val") VALUES (?, ?)'
            )
            try:
                ps.setString(1, key)
                ps.setString(2, val)
                ps.setString(3, key)
                ps.setString(4, val)
                ps.executeUpdate()
            finally:
                ps.close()
            return
        # generic fallback: portable update-then-insert — race-free only
        # on a single driver connection (see class docstring)
        ps = self._conn.prepareStatement('UPDATE kv SET "val" = ? WHERE "key" = ?')
        try:
            ps.setString(1, val)
            ps.setString(2, key)
            n = ps.executeUpdate()
        finally:
            ps.close()
        if n == 0:
            ps = self._conn.prepareStatement('INSERT INTO kv ("key", "val") VALUES (?, ?)')
            try:
                ps.setString(1, key)
                ps.setString(2, val)
                ps.executeUpdate()
            finally:
                ps.close()

    def list_prefix(self, prefix: str) -> list[tuple[str, str]]:
        esc = prefix.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
        ps = self._conn.prepareStatement(
            "SELECT \"key\", \"val\" FROM kv WHERE \"key\" LIKE ? ESCAPE '\\' ORDER BY \"key\""
        )
        try:
            ps.setString(1, esc + "%")
            rs = ps.executeQuery()
            out: list[tuple[str, str]] = []
            while rs.next():
                out.append((rs.getString(1), rs.getString(2)))
            return out
        finally:
            ps.close()

    # -- entries (GetEntry, postgresql_store.go:79-88) ----------------------
    def entry(
        self, filter_hash: str, bucket_size: int = 10_000, schema=None, changelog: bool = False
    ) -> "JdbcEntry":
        if filter_hash not in self._entries:
            self._entries[filter_hash] = JdbcEntry(
                self, _table_name(filter_hash), changelog=changelog
            )
        return self._entries[filter_hash]

    def changelog_entry(self, filter_hash: str, bucket_size: int = 10_000) -> "JdbcEntry":
        return self.entry("changelog_" + filter_hash, changelog=True)


class JdbcEntry:
    """Ordered, append-only, tail-truncatable log table over JDBC
    (postgresql_store.go:91-205 semantics; distributed bulk path)."""

    def __init__(self, store: JdbcStore, table: str, changelog: bool = False) -> None:
        self._store = store
        self._conn = store._conn
        self._jvm = store._jvm
        self.table = table
        self.changelog = changelog
        self.columns = _COLUMNS + (("change_type",) if changelog else ())
        self._col_list = ", ".join(f'"{c}"' for c in self.columns)
        # string columns are CLOB: Spark's Derby dialect maps StringType →
        # CLOB on the distributed write path, and Derby refuses CLOB
        # parameters against VARCHAR columns (ERROR 22005).  change_type is
        # VARCHAR: it is only ever written driver-side (store_logs) and the
        # compaction DELETE needs an equality predicate on it, which Derby
        # does not allow on CLOB.
        cols = ", ".join(
            f'"{c}" BIGINT PRIMARY KEY'
            if c == "indx"
            else f'"{c}" BIGINT'
            if c in _BIGINT_COLS
            else f'"{c}" VARCHAR(16)'
            if c == "change_type"
            else f'"{c}" CLOB'
            for c in self.columns
        )
        # table name deliberately unquoted (normalized to upper case) so the
        # unquoted name Spark's JDBC writer emits resolves to the same table
        store._ddl(f"CREATE TABLE {table} ({cols})")

    def _jdbc_props(self) -> dict:
        return {"driver": self._store.driver} if self._store.driver else {}

    # -- LastIndex (:98-108) -------------------------------------------------
    def last_index(self) -> int:
        st = self._conn.createStatement()
        try:
            rs = st.executeQuery(f'SELECT MAX("indx") FROM {self.table}')
            rs.next()
            mx = rs.getLong(1)
            return 0 if rs.wasNull() else mx + 1
        finally:
            st.close()

    # -- StoreLogs (:111-150) — driver-side head path (O(head batch)) --------
    def store_logs(self, logs: list[dict]) -> list[dict]:
        if not logs:
            return []
        base = self.last_index()
        types = self._jvm.java.sql.Types
        ps = self._conn.prepareStatement(
            f"INSERT INTO {self.table} ({self._col_list}) "
            f"VALUES ({', '.join('?' * len(self.columns))})"
        )
        try:
            for i, lg in enumerate(logs):
                enc = _encode(lg, base + i) + (
                    (lg.get("change_type"),) if self.changelog else ()
                )
                for j, (c, v) in enumerate(zip(self.columns, enc), start=1):
                    if v is None:
                        ps.setNull(j, types.BIGINT if c in _BIGINT_COLS else types.VARCHAR)
                    elif c in _BIGINT_COLS:
                        ps.setLong(j, int(v))
                    else:
                        ps.setString(j, v)
                ps.addBatch()
            ps.executeBatch()
        finally:
            ps.close()
        return [{**dict(lg), "indx": base + i} for i, lg in enumerate(logs)]

    # -- RemoveLogs (:153-158) -----------------------------------------------
    def remove_logs(self, indx: int) -> None:
        ps = self._conn.prepareStatement(f'DELETE FROM {self.table} WHERE "indx" >= ?')
        try:
            ps.setLong(1, int(indx))
            ps.executeUpdate()
        finally:
            ps.close()

    # -- GetLog (:161-205) ---------------------------------------------------
    def _row(self, rs) -> tuple:
        # typed getters: getObject on a CLOB yields a java.sql.Clob proxy,
        # not a str; getString materializes it (values here are <100 chars)
        out = []
        for j, c in enumerate(self.columns, start=1):
            if c in _BIGINT_COLS:
                v = rs.getLong(j)
                out.append(None if rs.wasNull() else v)
            else:
                out.append(rs.getString(j))
        return tuple(out)

    def get_log(self, indx: int) -> dict | None:
        ps = self._conn.prepareStatement(
            f'SELECT {self._col_list} FROM {self.table} WHERE "indx" = ?'
        )
        try:
            ps.setLong(1, int(indx))
            rs = ps.executeQuery()
            return _decode(self._row(rs), self.columns) if rs.next() else None
        finally:
            ps.close()

    def all_logs(self) -> list[dict]:
        st = self._conn.createStatement()
        try:
            rs = st.executeQuery(f'SELECT {self._col_list} FROM {self.table} ORDER BY "indx"')
            out: list[dict] = []
            while rs.next():
                out.append(_decode(self._row(rs), self.columns))
            return out
        finally:
            st.close()

    def scan_tail(self, block_hashes: set[str]) -> list[dict]:
        """Reverse tail walk (tracker.go:717-754): indx-descending index
        scan that stops at the first keeper — O(reorg depth) rows fetched,
        the cursor never materializes the table."""
        st = self._conn.createStatement()
        try:
            rs = st.executeQuery(
                f'SELECT {self._col_list} FROM {self.table} ORDER BY "indx" DESC'
            )
            victims: list[dict] = []
            while rs.next():
                row = self._row(rs)
                if row[5] in block_hashes:  # block_hash position in _COLUMNS
                    victims.append(_decode(row, self.columns))
                else:
                    break
            victims.reverse()
            return victims
        finally:
            st.close()

    def truncate_above_block(self, block_num: int) -> int:
        """Drop the tail of rows with block_num > ``block_num`` and return
        how many were removed (ParquetEntry.truncate_above_block
        semantics: appends are block-ordered, so that suffix is
        contiguous and starts at the smallest such indx)."""
        ps = self._conn.prepareStatement(
            f'SELECT MIN("indx") FROM {self.table} WHERE "block_num" > ?'
        )
        try:
            ps.setLong(1, int(block_num))
            rs = ps.executeQuery()
            rs.next()
            boundary = rs.getLong(1)
            if rs.wasNull():
                return 0
        finally:
            ps.close()
        removed = self.last_index() - boundary
        self.remove_logs(boundary)
        return removed

    def compact(self, bucket: int | None = None) -> int:
        return 0  # nothing to compact: SQL storage is not file-bucketed

    def compact_changelog(self, spark, finalized_below: int) -> dict:
        """Changelog retention as ONE server-side DELETE — the SQL twin of
        ParquetEntry.compact_changelog (prune_changelog semantics): below
        the finality horizon, drop every row superseded by a later row of
        the same natural key, and every fully-retracted key's final
        'remove'.  The entry's global max-indx row is exempt so
        ``last_index`` (MAX+1) never regresses and appends stay monotonic.
        The doomed set is an uncorrelated IN-subquery, materialized before
        any row is removed: a correlated DELETE could evaluate a row's
        EXISTS after its superseding row was already deleted and wrongly
        resurrect a fully-retracted key.  The database does the
        O(finalized) work; no row crosses the driver.  ``spark`` unused
        (interface parity)."""

        def _count() -> int:
            st = self._conn.createStatement()
            try:
                rs = st.executeQuery(f"SELECT COUNT(*) FROM {self.table}")
                rs.next()
                return rs.getLong(1)
            finally:
                st.close()

        before = _count()
        t = self.table
        # CAST the CLOB block_hash for the equality predicate (Derby
        # disallows comparisons on CLOB; hashes are 66 chars)
        bh = 'CAST({0}."block_hash" AS VARCHAR(80))'
        doomed_cond = (
            f'r."block_num" < ? '
            f'AND r."indx" < (SELECT MAX("indx") FROM {t}) '
            f"AND (r.\"change_type\" = 'remove' OR EXISTS ("
            f'  SELECT 1 FROM {t} s WHERE {bh.format("s")} = {bh.format("r")} '
            f'  AND s."tx_index" = r."tx_index" AND s."log_index" = r."log_index" '
            f'  AND s."indx" > r."indx"))'
        )
        doomed = f'SELECT r."indx" FROM {t} r WHERE {doomed_cond}'
        # time-travel horizon: for every key losing rows, that key's
        # pre-compaction max indx (surviving winner or final remove) —
        # persisted in kv before the delete (parity with ParquetEntry;
        # plain max-pruned-indx is one short for superseded duplicate
        # adds, round-7 review).  Per-key maxes come from a derived
        # table over CAST block hashes (Derby CLOB rules); avoid
        # "MAX(col) FROM (<one-column subquery>) d" — Derby's min/max
        # scan optimization silently yields NULL there (verified: COUNT
        # over the same derived table returns the right rows)
        ps = self._conn.prepareStatement(
            f'SELECT MAX(km."kmax") FROM {t} r, ('
            f'  SELECT b."bh", b."tx_index", b."log_index", MAX(b."indx") AS "kmax" '
            f'  FROM (SELECT CAST("block_hash" AS VARCHAR(80)) AS "bh", '
            f'               "tx_index", "log_index", "indx" FROM {t}) b '
            f'  GROUP BY b."bh", b."tx_index", b."log_index") km '
            f'WHERE km."bh" = {bh.format("r")} '
            f'AND km."tx_index" = r."tx_index" AND km."log_index" = r."log_index" '
            f"AND {doomed_cond}"
        )
        try:
            ps.setLong(1, int(finalized_below))
            rs = ps.executeQuery()
            dropped_max = None
            if rs.next():
                v = rs.getLong(1)
                if not rs.wasNull():  # MAX over empty doomed set is NULL
                    dropped_max = v
        finally:
            ps.close()
        if dropped_max is not None:
            self._store.set(
                f"_tt_horizon:{t}",
                str(max(self.time_travel_horizon(), int(dropped_max))),
            )
        ps = self._conn.prepareStatement(
            f'DELETE FROM {t} WHERE "indx" IN ({doomed})'
        )
        try:
            ps.setLong(1, int(finalized_below))
            ps.executeUpdate()
        finally:
            ps.close()
        return {"rows_before": before, "rows_after": _count()}

    def time_travel_horizon(self) -> int:
        """Smallest changelog indx at which view_as_of reconstruction is
        exact (0 = never pruned) — backend parity with
        ParquetEntry.time_travel_horizon; lives in the store's kv table."""
        v = self._store.get(f"_tt_horizon:{self.table}")
        return int(v) if v is not None else 0

    # -- Spark integration: the DISTRIBUTED paths ----------------------------
    def append_df(self, df) -> int:
        """Bulk path, fully distributed: two-phase indx assignment
        (operators/indexing.py) then ``df.write.jdbc`` — each partition
        task inserts its own rows over its own connection
        (postgresql_store.go:110-150 server-side semantics).  The stringly
        row codec runs as JVM column expressions; no row ever crosses the
        driver (guarded by tests/test_store_conformance.py)."""
        from pyspark.sql import functions as F

        from ..operators.indexing import assign_indx_scalable

        base = self.last_index()
        indexed = assign_indx_scalable(df, base=base)
        enc = indexed.select(
            *[F.col(c) for c in _COLUMNS if c not in ("topics", "data")],
            F.when(F.col("topics").isNull(), F.lit(None).cast("string"))
            .otherwise(F.array_join(F.col("topics"), ","))
            .alias("topics"),
            F.when(F.col("data").isNull(), F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("0x"), F.lower(F.hex(F.col("data")))))
            .alias("data"),
        ).select(*_COLUMNS)
        enc.write.jdbc(self.url_for_write(), self.table, mode="append", properties=self._jdbc_props())
        return self.last_index() - base

    def url_for_write(self) -> str:
        return self._store.url

    def df(self, spark):
        """The entry as a DataFrame — ``spark.read.jdbc``: a distributed
        scan with predicate pushdown on ``indx`` available to Catalyst;
        no row passes through the driver."""
        from pyspark.sql import functions as F

        raw = spark.read.jdbc(self._store.url, self.table, properties=self._jdbc_props())
        t, d = F.col("topics"), F.col("data")
        decoded = raw.select(
            F.col("indx").cast("long").alias("indx"),
            F.col("log_index").cast("long").alias("log_index"),
            F.col("tx_index").cast("long").alias("tx_index"),
            "tx_hash",
            F.col("block_num").cast("long").alias("block_num"),
            "block_hash",
            "address",
            F.when(t.isNull(), F.lit(None).cast("array<string>"))
            .otherwise(
                F.when(t == "", F.expr("CAST(array() AS array<string>)")).otherwise(
                    F.split(t, ",")
                )
            )
            .alias("topics"),
            F.when(d.isNull(), F.lit(None).cast("binary"))
            .otherwise(F.unhex(F.expr("substring(data, 3)")))
            .alias("data"),
            *(["change_type"] if self.changelog else []),
        )
        return decoded.orderBy("indx")
