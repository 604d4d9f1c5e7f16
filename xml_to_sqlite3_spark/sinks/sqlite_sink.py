"""SQLite compatibility sink.

Produces a database with the reference's exact schema
(db/migrate/001_create_base_schema.rb, 002_enhance_relationships.rb)
including the schema_migrations versioning table, so a user of the
reference can point their existing SQL at our output unchanged.

SQLite is inherently a single-writer file — the reference serializes
all writes through one fiber too (lib/database_writer.rb). We stream
partitions to the driver via toLocalIterator and batch-insert. This is
the COMPAT path for modest outputs; the scale path is parquet_sink.

Driver memory stays bounded: each table streams with
``prefetchPartitions=True``, so at most two partitions are on the
driver at once (the one being inserted and the next), and every stream
reads the output of a shuffle, so AQE sizes those partitions by bytes.
toLocalIterator runs one Spark job per partition. The documents,
nodes and properties queries end in a shuffle already (group-by,
dedupe window). The cross-reference plan does not: it is a union of
branches over broadcast joins, 6 x (parse partitions) partitions, so
it is streamed through a rebalance, which keeps the sink's job count
constant (12 per conversion) whatever the parse's partition count.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.xml_source import XmlCorpus, dedupe_last_writer

# Mirrors db/migrate/001_create_base_schema.rb:1-60
_MIGRATION_1 = """
CREATE TABLE IF NOT EXISTS schema_migrations (
  version INTEGER PRIMARY KEY,
  applied_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS documents (
  id TEXT PRIMARY KEY,
  filename TEXT UNIQUE,
  file_hash TEXT,
  file_size INTEGER,
  parsed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS nodes (
  id TEXT PRIMARY KEY,
  node_type TEXT NOT NULL,
  document_id TEXT REFERENCES documents(id),
  parent_id TEXT REFERENCES nodes(id),
  position INTEGER NOT NULL DEFAULT 0,
  content TEXT,
  xpath TEXT,
  created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS node_properties (
  node_id TEXT REFERENCES nodes(id) ON DELETE CASCADE,
  property_name TEXT,
  property_value TEXT,
  data_type TEXT DEFAULT 'string',
  PRIMARY KEY (node_id, property_name)
);
CREATE TABLE IF NOT EXISTS cross_references (
  id INTEGER PRIMARY KEY,
  source_node_id TEXT REFERENCES nodes(id),
  target_node_id TEXT,
  reference_type TEXT,
  attribute_name TEXT,
  confidence REAL DEFAULT 1.0,
  source_file TEXT
);
CREATE INDEX IF NOT EXISTS idx_nodes_parent_position ON nodes(parent_id, position);
CREATE INDEX IF NOT EXISTS idx_nodes_type ON nodes(node_type);
CREATE INDEX IF NOT EXISTS idx_properties_name ON node_properties(property_name);
CREATE INDEX IF NOT EXISTS idx_xrefs_source ON cross_references(source_node_id);
CREATE INDEX IF NOT EXISTS idx_xrefs_target ON cross_references(target_node_id);
"""

# Mirrors db/migrate/002_enhance_relationships.rb
_MIGRATION_2 = """
CREATE INDEX IF NOT EXISTS idx_xrefs_type ON cross_references(reference_type);
CREATE INDEX IF NOT EXISTS idx_xrefs_confidence ON cross_references(confidence);
CREATE INDEX IF NOT EXISTS idx_xrefs_attribute ON cross_references(attribute_name);
CREATE INDEX IF NOT EXISTS idx_xrefs_source_type ON cross_references(source_node_id, reference_type);
CREATE INDEX IF NOT EXISTS idx_xrefs_target_type ON cross_references(target_node_id, reference_type);
"""

_MIGRATIONS = (_MIGRATION_1, _MIGRATION_2)


def migrate(con: sqlite3.Connection) -> None:
    """Versioned migration runner (lib/schema/manager.rb parity)."""
    # pre-create with the FULL reference shape — a version-only
    # pre-create would make _MIGRATION_1's richer CREATE TABLE IF NOT
    # EXISTS a permanent no-op and lose the applied_at column
    con.execute(
        "CREATE TABLE IF NOT EXISTS schema_migrations ("
        "version INTEGER PRIMARY KEY, "
        "applied_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)"
    )
    row = con.execute("SELECT MAX(version) FROM schema_migrations").fetchone()
    current = row[0] or 0
    for version, ddl in enumerate(_MIGRATIONS, start=1):
        if version <= current:
            continue
        con.executescript(ddl)
        con.execute("INSERT INTO schema_migrations (version) VALUES (?)", (version,))
    con.commit()


def _insert_stream(
    con: sqlite3.Connection,
    sql: str,
    rows: Iterable[tuple],
    batch_size: int = 1000,
) -> int:
    """Batched INSERT OR REPLACE with periodic commits — the
    reference's writer cadence (lib/database_writer.rb:20-35)."""
    n = 0
    batch: list[tuple] = []
    for row in rows:
        batch.append(row)
        if len(batch) >= batch_size:
            con.executemany(sql, batch)
            con.commit()
            n += len(batch)
            batch = []
    if batch:
        con.executemany(sql, batch)
        con.commit()
        n += len(batch)
    return n


_DOCUMENT_COLS = ("id", "filename", "file_size", "file_hash")
_NODE_COLS = ("id", "node_type", "document_id", "parent_id", "position", "content", "xpath")
_PROPERTY_COLS = ("node_id", "property_name", "property_value", "data_type")
_XREF_COLS = (
    "source_node_id",
    "target_node_id",
    "reference_type",
    "attribute_name",
    "confidence",
    "source_file",
)


def _upsert_sql(table: str, cols: tuple[str, ...]) -> str:
    return "INSERT OR REPLACE INTO %s (%s) VALUES (%s)" % (
        table,
        ", ".join(cols),
        ", ".join("?" * len(cols)),
    )


def _stream(df: DataFrame) -> Iterable[tuple]:
    """Rows of ``df`` in column order. ``Row`` is a tuple, so they go
    to ``executemany`` as they are. Prefetch launches the next
    partition's job while this one is inserted: at most two partitions
    are on the driver at once."""
    return df.toLocalIterator(prefetchPartitions=True)


def write_corpus_sqlite(
    corpus: XmlCorpus,
    db_path: str,
    cross_references: DataFrame | None = None,
    batch_size: int = 1000,
    optimize: bool = True,
) -> dict[str, int]:
    """Write the corpus (and optionally detected relationships) to a
    reference-schema SQLite database. Returns per-table row counts.

    A ``source_file`` column on ``cross_references`` is written as is;
    without one the column is NULL, as the reference's adapters leave
    it."""
    con = sqlite3.connect(db_path)
    con.execute("PRAGMA journal_mode = WAL")
    con.execute("PRAGMA foreign_keys = OFF")
    migrate(con)

    counts: dict[str, int] = {}

    # documents are already unique by construction (corpus_from_parsed
    # groups by document_id) — no dedupe window needed here. Their ids
    # are kept as they stream by: the cross-reference delete below
    # needs them, and re-running the query would cost another job.
    doc_ids: list = []

    def documents() -> Iterable[tuple]:
        for r in _stream(corpus.documents.select(*_DOCUMENT_COLS)):
            doc_ids.append(r[0])
            yield r

    counts["documents"] = _insert_stream(
        con, _upsert_sql("documents", _DOCUMENT_COLS), documents(), batch_size
    )

    # Resolve duplicate primary keys by parse ordinal BEFORE
    # streaming: with raw INSERT OR REPLACE the winner would be
    # whichever partition toLocalIterator happens to deliver last —
    # nondeterministic across runs, and inconsistent with
    # parquet_sink's documented deterministic last-writer-wins.
    nodes = dedupe_last_writer(corpus.nodes, ["id"], "ordinal")
    counts["nodes"] = _insert_stream(
        con,
        _upsert_sql("nodes", _NODE_COLS),
        _stream(nodes.select(*_NODE_COLS)),
        batch_size,
    )

    properties = dedupe_last_writer(
        corpus.properties, ["node_id", "property_name"], "ordinal"
    )
    counts["node_properties"] = _insert_stream(
        con,
        _upsert_sql("node_properties", _PROPERTY_COLS),
        _stream(properties.select(*_PROPERTY_COLS)),
        batch_size,
    )

    if cross_references is not None:
        # cross_references has a synthetic autoincrement PK, so
        # INSERT OR REPLACE can never replace — re-writing the same
        # documents would silently duplicate every xref row. Delete
        # the rows previously written for these source files first
        # (same idempotence contract as the streaming path).
        _delete_xrefs_on(con, doc_ids)
        xrefs = cross_references.select(
            *_XREF_COLS[:-1],
            F.col("source_file")
            if "source_file" in cross_references.columns
            else F.lit(None).cast("string").alias("source_file"),
        )
        # The detection plan is a union of branches over broadcast
        # joins: 6 x (parse partitions) partitions, and one job each
        # to stream. The rebalance lets AQE size them by bytes.
        counts["cross_references"] = _insert_stream(
            con,
            _upsert_sql("cross_references", _XREF_COLS),
            _stream(xrefs.hint("rebalance")),
            batch_size,
        )

    if optimize:
        con.execute("PRAGMA foreign_keys = ON")
        con.execute("PRAGMA optimize")
        con.execute("VACUUM")
    con.close()
    return counts


def _delete_xrefs_on(con: sqlite3.Connection, source_files: list) -> None:
    """Chunked DELETE of cross_references rows by source_file on an
    open, migrated connection (500 placeholders per statement — one
    per file would exceed SQLite's bound-variable limit on backlog
    drains). Commits: with no rows to insert after it, an open
    transaction would be rolled back at close (and VACUUM refuses to
    run inside one)."""
    for i in range(0, len(source_files), 500):
        chunk = source_files[i : i + 500]
        con.execute(
            "DELETE FROM cross_references WHERE source_file IN (%s)"
            % ",".join("?" * len(chunk)),
            chunk,
        )
    con.commit()
