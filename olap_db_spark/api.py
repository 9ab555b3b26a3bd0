"""User-facing engine facade — the switch-over surface for a user of the
reference.

The reference's clients hold a connection and issue SQL strings
(clickhouse_driver `Client.execute("SHOW TABLES")` at
/root/reference/drivers/connection_test.py:21-26, aiochclient
`SELECT 1` at /root/reference/drivers/aiochclient_lab.py:11-12) or push
DataFrames (`insert_dataframe`, /root/reference/ranking_urls_ingestor.py:74).
``OlapEngine`` gives the same two entry points over Spark: ``sql()`` for
strings (Catalyst replaces the server-side engine) and ``ingest()`` /
``table()`` for the DataFrame path, with the testdata catalog registered
as the database.
"""

from __future__ import annotations

import os.path
import re
import threading

from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES, load, register_views
from .session import get_spark
from .sources import versioned
from .sources._fs import is_uri
from .sources.writers import (
    compact_partitions,
    delete_where,
    idempotent_append,
    upsert_partition_scoped,
)


def _column(spark: SparkSession, schema: str, values) -> DataFrame:
    """The sorted one-column result frame of every verb but SHOW VERSIONS
    and READ."""
    return spark.createDataFrame([(v,) for v in sorted(values)], schema)


def _grammar(body: str) -> re.Pattern:
    return re.compile(rf"^\s*{body}\s*$", re.IGNORECASE | re.DOTALL)


_PATH = r"'(?P<path>[^']+)'"
_PCOL = r"\s+PARTITION\s+BY\s+(?P<pcol>\w+)"

# The engine-routed statements, in match order; ``OlapEngine.sql`` hands
# each to the method named after its verb (UPSERT → ``_upsert``). Every
# grammar addresses a quoted path. Spellings follow the closest
# established analog: ClickHouse's ReplacingMergeTree and ALTER TABLE ...
# DELETE (neither has an ANSI spelling for a path-addressed parquet
# table), ClickHouse OPTIMIZE TABLE, and Delta's VACUUM / RESTORE /
# DESCRIBE HISTORY / VERSION AS OF.
_STATEMENTS = {
    "UPSERT": _grammar(
        rf"UPSERT\s+INTO\s+{_PATH}{_PCOL}\s+KEY\s*\((?P<keys>[^)]+)\)"
        r"\s+ORDER\s+BY\s+(?P<ocol>\w+)\s+(?P<select>SELECT\b.*)"
    ),
    "DELETE": _grammar(rf"DELETE\s+FROM\s+{_PATH}{_PCOL}\s+WHERE\s+(?P<pred>.+)"),
    "OPTIMIZE": _grammar(
        rf"OPTIMIZE\s+{_PATH}{_PCOL}(?:\s+TARGET_BYTES\s+(?P<target>\d+))?"
    ),
    "VACUUM": _grammar(
        rf"VACUUM\s+{_PATH}(?:\s+KEEP\s+(?P<keep>\d+))?(?:\s+GRACE\s+(?P<grace>\d+))?"
    ),
    "RESTORE": _grammar(rf"RESTORE\s+{_PATH}\s+TO\s+VERSION\s+(?P<version>\d+)"),
    "SHOW_VERSIONS": _grammar(rf"SHOW\s+VERSIONS\s+FROM\s+{_PATH}"),
    "READ_VERSION": _grammar(rf"READ\s+{_PATH}\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)"),
}

_INSERT_OVERWRITE_RE = re.compile(r"^\s*INSERT\s+OVERWRITE\b", re.IGNORECASE)
# Serializes the session-conf toggle around INSERT OVERWRITE: without it two
# overlapping statements on one session restore each other's saved value.
_OVERWRITE_MODE_LOCK = threading.Lock()

#: statement kinds that mutate data or history at a filesystem path —
#: the set the HTTP server gates behind its explicit opt-in
MUTATING_VERBS = ("UPSERT", "DELETE", "OPTIMIZE", "VACUUM", "RESTORE")


def classify_statement(query: str) -> str | None:
    """The engine-routed verb a statement would take (a key of the
    statement table, e.g. ``"UPSERT"`` or ``"SHOW_VERSIONS"``) or None for
    plain Spark SQL. Shared with the HTTP server so its mutation gate
    matches the routing in ``OlapEngine.sql`` exactly."""
    return next((verb for verb, rx in _STATEMENTS.items() if rx.match(query)), None)


class OlapEngine:
    """Session + catalog + the dual SQL/DataFrame query surface."""

    def __init__(
        self,
        sf_dir: str,
        spark: SparkSession | None = None,
        table_root: str | None = None,
    ):
        """``table_root`` (ADVICE r9): when set, every path-addressed
        statement (UPSERT/DELETE/OPTIMIZE/VACUUM/RESTORE/SHOW VERSIONS/
        READ VERSION) must resolve inside that directory — the engine
        refuses to mutate or read arbitrary filesystem paths handed in
        through SQL strings. None (the default) keeps the embedded-use
        behavior where the caller already holds filesystem authority."""
        self.spark = spark or get_spark("olap-db-engine")
        self.sf_dir = sf_dir
        self.table_root = table_root
        register_views(self.spark, sf_dir)

    def _checked_path(self, path: str) -> str:
        if self.table_root is None:
            return path
        if is_uri(self.table_root) or is_uri(path):
            # URI paths have no OS-level normalization; compare as
            # slash-delimited prefixes (".." is not meaningful in the
            # Hadoop Path forms the maintenance surface accepts)
            root = self.table_root.rstrip("/")
            ok = path == root or path.startswith(root + "/")
            ok = ok and "/../" not in path and not path.endswith("/..")
        else:
            root = os.path.abspath(self.table_root)
            resolved = os.path.abspath(path)
            ok = resolved == root or resolved.startswith(root + os.sep)
        if not ok:
            raise PermissionError(
                f"path {path!r} is outside the configured table_root "
                f"{self.table_root!r}"
            )
        return path

    # --- query surface ----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """String-in/DataFrame-out — the reference's `Client.execute`.

        Engine-routed statements, one handler each (result columns):

        - ``UPSERT INTO '<path>' PARTITION BY p KEY (k, ...) ORDER BY v SELECT ...``
          (``replaced_partition``; keep-latest merge of the SELECT's partitions)
        - ``DELETE FROM '<path>' PARTITION BY p WHERE <pred>`` (``rewritten_partition``)
        - ``OPTIMIZE '<path>' PARTITION BY p [TARGET_BYTES n]`` (``compacted_partition``)
        - ``VACUUM '<path>' [KEEP n] [GRACE seconds]`` (``deleted_version``)
        - ``RESTORE '<path>' TO VERSION n`` (``restored_version``)
        - ``SHOW VERSIONS FROM '<path>'`` (``version``, ``is_head``)
        - ``READ '<path>' VERSION AS OF n`` (that version's rows)
        - ``INSERT OVERWRITE ...`` replaces only the partitions it produces
          (dynamic mode; Spark's static default wipes the whole table)

        Anything else is plain ``spark.sql``.
        """
        verb = classify_statement(query)
        if verb is not None:
            m = _STATEMENTS[verb].match(query)
            handler = getattr(self, f"_{verb.lower()}")
            return handler(self._checked_path(m["path"]), m)
        if _INSERT_OVERWRITE_RE.match(query):
            conf_key = "spark.sql.sources.partitionOverwriteMode"
            with _OVERWRITE_MODE_LOCK:
                old = self.spark.conf.get(conf_key)
                self.spark.conf.set(conf_key, "dynamic")
                try:
                    return self.spark.sql(query)  # INSERT executes eagerly
                finally:
                    self.spark.conf.set(conf_key, old)
        return self.spark.sql(query)

    # One handler per verb: (checked path, match) → result frame. The
    # writers are called through this module's names, looked up at call
    # time, so a caller that rebinds them (perfbench's tracer) sees every call.
    def _upsert(self, path: str, m: re.Match) -> DataFrame:
        keys = [k.strip() for k in m["keys"].split(",")]
        df = self.spark.sql(m["select"])
        parts = upsert_partition_scoped(self.spark, df, path, m["pcol"], keys, m["ocol"])
        return _column(self.spark, "replaced_partition string", map(str, parts))

    def _delete(self, path: str, m: re.Match) -> DataFrame:
        parts = delete_where(self.spark, path, m["pcol"], m["pred"])
        return _column(self.spark, "rewritten_partition string", map(str, parts))

    def _optimize(self, path: str, m: re.Match) -> DataFrame:
        kw = {"target_bytes": int(m["target"])} if m["target"] else {}
        parts = compact_partitions(self.spark, path, m["pcol"], **kw)
        return _column(self.spark, "compacted_partition string", map(str, parts))

    def _vacuum(self, path: str, m: re.Match) -> DataFrame:
        kw = {"keep": int(m["keep"])} if m["keep"] else {}
        if m["grace"] is not None:
            kw["grace_seconds"] = float(m["grace"])
        return _column(self.spark, "deleted_version long", versioned.vacuum(path, **kw))

    def _restore(self, path: str, m: re.Match) -> DataFrame:
        v = versioned.rollback(path, int(m["version"]))
        return _column(self.spark, "restored_version long", [v])

    def _show_versions(self, path: str, m: re.Match) -> DataFrame:
        chain = versioned.versions(path)
        rows = [(v, v == chain[-1]) for v in chain]
        return self.spark.createDataFrame(rows, "version long, is_head boolean")

    def _read_version(self, path: str, m: re.Match) -> DataFrame:
        return versioned.read_version(self.spark, path, int(m["version"]))

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; have {TABLES}")
        return load(self.spark, self.sf_dir, name)

    def tables(self) -> list[str]:
        return list(TABLES)

    def is_alive(self) -> bool:
        """`SELECT 1` liveness probe (A53)."""
        return self.sql("SELECT 1").collect()[0][0] == 1

    def serve(self, host: str = "127.0.0.1", port: int = 0, **kw):
        """Start the HTTP SQL endpoint (the reference's :8123 surface)
        over this engine; returns the started server (``.host``/``.port``
        attributes, ``.stop()`` to shut down). Loopback-only unless
        ``allow_external=True``; ``max_rows`` caps rows per response."""
        from .server import HttpSqlServer  # server.py imports this module

        return HttpSqlServer(self, host, port, **kw).start()

    # --- ingest surface ---------------------------------------------------
    def ingest(
        self, df: DataFrame, path: str, log_path: str, batch_id: str
    ) -> bool:
        """Idempotent batch append (the FlagDynamoDB-guarded insert,
        /root/reference/ranking_urls_ingestor.py:99-114)."""
        return idempotent_append(self.spark, df, path, log_path, batch_id)
