"""Text-corpus sources: the reference's input model re-expressed in Spark.

The reference reads whole text files, one file = one map task, and the map
function receives ``(filename, contents)`` (cmd/worker/worker.go:41-48,
seq/sequential.go:21-27; one-file-one-task at cmd/coordinator/coordinator.go:55-61).

Spark-first equivalents:

- line-granular: ``spark.read.text(glob)`` + ``input_file_name()`` — scales
  to files larger than memory because Spark splits them into FilePartitions
  (the reference buffers whole files in RAM, SURVEY.md §4.3);
- whole-file identity only matters when the query keys on the document
  (inverted index, plugins/ii/ii.go:20) — the filename column preserves that
  without forcing whole-file-in-one-record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Read raw text files into ``(doc_id string, value string)`` rows.

    ``doc_id`` is the source file basename (SURVEY.md §7.4: the reference
    uses the full path, plugins/ii/ii.go:20, but ``input_file_name()``
    returns a URI — basename keeps doc IDs stable across filesystems).
    The URI is percent-encoded, so the basename's percent-escapes are
    decoded back to the literal filename ('pg 1.txt', not 'pg%201.txt' —
    the reference emits raw names). ``url_decode`` form-decodes, so a
    literal '+' is escaped first or 'pg+1.txt' would read as 'pg 1.txt'.
    Caveat: files sharing a basename across subdirectories of one glob
    map to the same doc_id and their postings merge; pass a flat
    directory (as the reference's pg/ corpus is).
    One row per line; a "document" is the union of its lines, which is
    exactly what a tokenizing query observes since newlines are non-letters.
    """
    return (
        spark.read.text(path_or_glob)
        .select(
            F.url_decode(
                F.replace(
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                    F.lit("+"),
                    F.lit("%2B"),
                )
            ).alias("doc_id"),
            F.col("value"),
        )
    )


def documents_as_text_files(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the documents fixture as raw ``.txt`` files under /tmp,
    once per fixture dir (idempotent via the writer's _SUCCESS marker), and
    return a glob over them.

    Exists so a registered query can exercise the engine's actual raw-text
    ingestion path (``read_text_corpus`` — the analogue of the reference's
    one-file-one-task filesystem intake, cmd/coordinator/coordinator.go:312)
    end-to-end under the driver's oracle gate, not just in unit tests.
    Document identity is NOT preserved (many docs per part file) — only
    doc-agnostic queries (word count) may read this corpus.
    """
    import os

    from .artifacts import fixture_artifact

    # Content-addressed: a regenerated documents.parquet gets a new tag, so
    # the cache can never serve text from a previous fixture generation.
    out = fixture_artifact(
        "text_corpus", sf_dir, "documents",
        build=lambda out: (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("text")
            .coalesce(8)
            .write.mode("overwrite")
            .text(out)
        ),
    )
    return os.path.join(out, "*.txt")


def read_documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture `documents` table in corpus shape: (doc_id string, value string)."""
    import os

    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("value"))
    )
