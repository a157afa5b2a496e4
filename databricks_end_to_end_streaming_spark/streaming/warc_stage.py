"""Incremental WARC first mile — the streaming twin of the batch
``read_warc_files`` → ``docs_from_warc_responses`` chain: crawl
segment files land in a directory, each micro-batch parses WHOLE
segments (the file-stream trigger unit — the natural WARC granularity),
appends the extracted document relation under replay tokens, and keeps
the per-(domain, lang) accounting current by composing the existing
``web_stage`` partial protocol.

This closes the loop the batch query ``warc_ingest_accounting`` opened:
the same container format, the same record splitter (shared
``_split_records`` — the batch and streaming paths can never frame
differently), now fed continuously. Downstream stages (dedup, quality,
decontamination) consume the docs log exactly as they consume any other
document relation.

100 TB shape: per trigger, work is per-segment parse + map-only
extraction + one (domain, lang)-keyed partial — the appended state is
the docs log (the corpus itself, which IS the product) plus
vocabulary-sized accounting partials. Replays fold away via the token'd
append on both tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..queries.web import docs_from_warc_responses, domain_lang_partials
from .medallion import drain, foreach_writer
from .sinks import ParquetTable


def warc_ingest_batch(
    records_df: DataFrame,
    docs_table: ParquetTable,
    partials_table: ParquetTable,
    batch_id: int,
) -> None:
    """One micro-batch of parsed WARC records through the first mile.
    Callable directly so pytest can drive replays without a stream."""
    # persist the DERIVED docs relation, not the raw records: both
    # appends consume it, and the HTTP split + extraction regex chain
    # is the expensive map work — caching upstream would run it twice
    docs = docs_from_warc_responses(records_df)
    docs.persist()
    try:
        docs_table.append_batch(docs, batch_id, "warcdocs")
        partials_table.append_batch(
            domain_lang_partials(docs), batch_id, "domains"
        )
    finally:
        docs.unpersist()


def warc_docs_from_log(
    spark: SparkSession, docs_table: ParquetTable
) -> DataFrame:
    """Every document ever ingested from the archive stream; replays
    fold away by doc_id (rows are a pure function of the record)."""
    return (
        docs_table.read(spark)
        .select("doc_id", "url", "lang", "text", "domain", "n_tokens")
        .dropDuplicates(["doc_id"])
    )


def warc_first_mile_stage(
    source: DataFrame,
    docs_table: ParquetTable,
    partials_table: ParquetTable,
    checkpoint: str,
    query_name: str = "warc_first_mile",
) -> None:
    """Streaming wrapper (Trigger-Once semantics, SURVEY T1). ``source``
    is ``sources/warc.py::stream_warc_files`` output (already
    record-split — the mapInPandas runs inside the stream)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        warc_ingest_batch(batch_df, docs_table, partials_table, batch_id)

    drain(foreach_writer(source, process, checkpoint, query_name))
