"""End-to-end KG construction pipeline: pages → nodes/edges/triples.

Spark dataflow (SURVEY.md §7):

    pages(url, warc_ts, html, text, lang)
      → sentences   (filter + posexplode, no shuffle)
      → mentions    (one mapInPandas Arrow stage: han_to_zen + tag + BIO decode)
      → normalized  (distinct surfaces → exact broadcast join → banded fuzzy
                     broadcast join + window top-1 → broadcast join back)
      → canonical   (alias components: union-find on the driver over one
                     bounded collect of the edges, distributed star fallback
                     above the bound; rep ids picked in-process, broadcast)
      → triples     (co-scope pairing join + salted groupBy count)
      → nodes/edges (partitioned parquet sinks; Iceberg bucketing documented)

Shuffles: exactly two on the hot path at scale — the pairing self-join keyed
by url (avoidable with bucketed storage) and the triple count aggregation
(map-side combined, salt-able). Everything else is broadcast or narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark import StorageLevel

from ..operators.canonicalize import apply_alias_map, canonical_alias_map
from ..operators.normalize import normalize_mentions
from ..operators.sentences import pages_to_sentences
from ..operators.tagger import extract_mentions
from ..operators.triples import build_triples


def run_kg_pipeline(
    pages: DataFrame,
    dim: DataFrame,
    term_types: dict[str, str],
    alias_edges: DataFrame | None = None,
    threshold: float = 70.0,
    scope: str = "document",
    remove_duplicates: bool = True,
    lang_filter: str | None = "ja",
    salt_buckets: int = 0,
    persist: bool = True,
    model=None,
    label_vocab=None,
) -> dict[str, DataFrame]:
    """Returns the full lineage: sentences, mentions, normalized, triples, nodes.

    ``mentions``/``normalized`` are persisted by default: they feed multiple
    consumers (distinct-surface map, drug/symptom branches, No-Symptoms
    anti-join, nodes agg), and recomputing the NER Arrow stage per consumer
    is the single biggest avoidable cost. In the cluster deployment the same
    role is played by writing mentions to storage between stages; persist is
    the in-session equivalent.
    """
    sentences = pages_to_sentences(pages, lang_filter=lang_filter)
    if model is not None:
        from ..operators.ner import ner_pages

        mentions = ner_pages(pages, model, label_vocab, lang_filter=lang_filter)
    else:
        mentions = extract_mentions(pages, term_types, lang_filter=lang_filter)
    if persist:
        mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
    normalized = normalize_mentions(mentions, dim, threshold=threshold)
    if alias_edges is not None:
        alias_map = canonical_alias_map(alias_edges, dim)
        normalized = apply_alias_map(normalized, alias_map, dim=dim)
    # normalized is NOT persisted: it is a cheap broadcast-join view over the
    # persisted mentions; consumers (triples, nodes) recompute that join
    # rather than paying a second materialization of the mention stream
    triples = build_triples(
        normalized,
        scope=scope,
        remove_duplicates=remove_duplicates,
        salt_buckets=salt_buckets,
    )
    from ..operators.triples import build_graph

    graph = build_graph(normalized, dim, triples)
    return {
        "sentences": sentences,
        "mentions": mentions,
        "normalized": normalized,
        "triples": triples,
        "nodes": graph["nodes"],
        "edges": graph["edges"],
    }


def write_outputs(outputs: dict[str, DataFrame], base_dir: str, url_buckets: int = 64):
    """Materialize the KG tables.

    Parquet here; on a real deployment these are Iceberg tables with
    ``partitionedBy(bucket(url_buckets, 'url'))`` for mentions (co-locates
    the pairing join → no shuffle) and ``bucket(N, 'subj')`` for triples.
    Each write is an atomic directory replace = the idempotent-resume unit.
    """
    outputs["mentions"].repartition(url_buckets, "url").write.mode(
        "overwrite"
    ).parquet(f"{base_dir}/mentions")
    outputs["triples"].write.mode("overwrite").parquet(f"{base_dir}/triples")
    outputs["nodes"].write.mode("overwrite").parquet(f"{base_dir}/nodes")
    if "edges" in outputs:
        outputs["edges"].repartition("src_id").write.mode("overwrite").parquet(
            f"{base_dir}/edges"
        )


def write_outputs_bucketed(
    outputs: dict[str, DataFrame],
    table_prefix: str,
    url_buckets: int = 64,
    id_buckets: int = 128,
) -> None:
    """Catalog-table sink with REAL storage bucketing, runnable against the
    built-in session catalog (no extra jars): ``bucketBy(url).sortBy(url)``
    for mentions, id-bucketed nodes/edges.

    This is the executable twin of :func:`write_outputs_iceberg` (whose
    ``bucket()`` partition transform needs an Iceberg catalog): a join of
    two url-bucketed tables plans with ZERO shuffle exchanges (asserted in
    tests/test_graph_outputs.py), which is exactly the co-located pairing
    join the 100 TB design claims. ``mode("overwrite")`` makes a rerun
    replace the table wholesale — the idempotent-resume unit, like an
    Iceberg ``createOrReplace`` snapshot commit but without its atomicity
    guarantee (the session catalog swaps files non-atomically; production
    uses the Iceberg path for that)."""
    (
        outputs["mentions"]
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(url_buckets, "url")
        .sortBy("url")
        .saveAsTable(f"{table_prefix}_mentions")
    )
    outputs["triples"].write.format("parquet").mode("overwrite").saveAsTable(
        f"{table_prefix}_triples"
    )
    (
        outputs["nodes"]
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(id_buckets, "entity_id")
        .saveAsTable(f"{table_prefix}_nodes")
    )
    if "edges" in outputs:
        (
            outputs["edges"]
            .write.format("parquet")
            .mode("overwrite")
            .bucketBy(id_buckets, "src_id")
            .saveAsTable(f"{table_prefix}_edges")
        )


def write_outputs_iceberg(
    outputs: dict[str, DataFrame],
    table_prefix: str,
    url_buckets: int = 64,
    id_buckets: int = 128,
):
    """Production sink: the same KG tables as V2 ``writeTo`` calls against an
    Iceberg catalog (``table_prefix`` like ``catalog.db.kg``).

    - mentions bucketed by url → the drug⋈symptom pairing join is
      storage-co-located (both sides read pre-bucketed, no exchange);
    - nodes bucketed by entity_id, edges by src_id → point lookups and
      src-grouped scans prune to one bucket;
    - ``createOrReplace`` is a single atomic snapshot commit per table —
      the idempotent-resume unit the ledger tracks.

    Requires an Iceberg catalog on the session (``spark.sql.catalog.*``
    confs + runtime jar); this sandbox has neither, so the call is exercised
    only up to Spark's catalog-resolution error in tests, and the parquet
    twin above is the measured path.
    """
    from pyspark.sql import functions as F

    outputs["mentions"].writeTo(f"{table_prefix}_mentions").partitionedBy(
        F.bucket(url_buckets, F.col("url"))
    ).createOrReplace()
    outputs["triples"].writeTo(f"{table_prefix}_triples").createOrReplace()
    outputs["nodes"].writeTo(f"{table_prefix}_nodes").partitionedBy(
        F.bucket(id_buckets, F.col("entity_id"))
    ).createOrReplace()
    if "edges" in outputs:
        outputs["edges"].writeTo(f"{table_prefix}_edges").partitionedBy(
            F.bucket(id_buckets, F.col("src_id"))
        ).createOrReplace()
