"""Stage-DAG runner: the twined main loop + workflow chain analogue
(SURVEY.md §3.1; ``libtwine/workflow.c``, ``twined`` daemon `[U~]`),
re-expressed as checkpointed DataFrame stages over the catalog.

    documents ──(bucket by pmod(xxhash64(doc_id), P))──► spans
       spans ──► mentions, media_features, base_triples      [per-bucket]
       mentions ──► edges ──► labels ──► entities/attrs/
                                          proxy+final triples [global]

This module holds only the stage DAG: which stages exist, what each
reads and how it computes.  Every stage resumes by the one rule in
checkpoint.py — a part (a bucket of a per-bucket stage, the whole of a
global stage) is skipped only when its newest ``_checkpoint`` row is
complete, its input fingerprint and row count match, and its output
table exists.

Deployment: on a real cluster this module is the ``spark-submit``
entry point —

    spark-submit --py-files kgspark.zip -m kgspark.runner \\
        --input s3://…/documents --warehouse s3://…/warehouse

with executors/cores set by the cluster manager; the sandbox runs the
same code on local[N].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cc as cc_mod
from . import checkpoint as CP
from . import extract, fixtures, link
from . import generate as gen
from .catalog import ParquetCatalog, with_bucket


def run_all(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    n_buckets: int = 32,
    fail_buckets_in: dict[str, set[int]] | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline, materializing every stage
    output under ``warehouse``.  ``fail_buckets_in`` maps stage name →
    buckets to crash on (test hook)."""
    fail = fail_buckets_in or {}
    cat = ParquetCatalog(warehouse, n_buckets)

    docs = with_bucket(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_buckets
    ).repartition(n_buckets, "bucket")

    flat = CP.run_bucketed_stage(
        spark, cat, "spans", docs,
        lambda d: with_bucket(
            fixtures.flat_spans(fixtures.with_spans(d)), n_buckets
        ),
        "spans", fail_buckets=fail.get("spans"),
    )

    mentions = CP.run_bucketed_stage(
        spark, cat, "mentions", flat,
        lambda d: with_bucket(extract.mentions_df(d), n_buckets),
        "mentions", fail_buckets=fail.get("mentions"),
    )

    media = CP.run_bucketed_stage(
        spark, cat, "media_features", flat,
        lambda d: with_bucket(extract.media_features_df(d), n_buckets),
        "media_features", fail_buckets=fail.get("media_features"),
    )

    # per-doc keyed quads: every output row's bucket IS its originating
    # doc's bucket (base_quads keeps doc_id), so per-bucket resume
    # overwrites exactly the pending buckets' partitions — a triple's
    # graph g = doc://<id> makes this the O6 per-graph replace too
    base_triples = CP.run_bucketed_stage(
        spark, cat, "base_triples", flat,
        lambda d: with_bucket(extract.base_quads(d, extract.mentions_df(d)), n_buckets),
        "base_triples", count_as_triples=True,
        fail_buckets=fail.get("base_triples"),
    )

    # --- global (graph-wide) stages -----------------------------------------
    # each global stage resumes on the fingerprints of everything it
    # reads: edges/labels/entities/attrs/props derive from mentions AND
    # the embedding table (via link scoring) — embedding changes must
    # invalidate them too (they'd otherwise serve stale from checkpoint)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mentions_in, emb_in, spans_in, quads_in = CP.global_fingerprints(
        (mentions, ["doc_id", "span_pos", "mention_ord", "mention_iri"]),
        (emb, ["vec_id", "label", "embedding"]),
        (flat, ["doc_id", "span_pos", "media_ref"]),
        (base_triples, ["g", "s", "p", "o"]),
    )
    me = [mentions_in, emb_in]

    edges = CP.run_global_stage(
        spark, cat, "edges", me,
        lambda: link.scored_edges(mentions, emb), "edges",
    )

    labels = CP.run_global_stage(
        spark, cat, "labels", me,
        lambda: cc_mod.connected_components(
            edges, mentions.select(F.col("norm_text").alias("node")).distinct()
        ),
        "labels",
    )

    entities = CP.run_global_stage(
        spark, cat, "entities", me,
        lambda: gen.entities_df(mentions, labels), "entities",
    )
    attrs = CP.run_global_stage(
        spark, cat, "entity_attrs", me,
        lambda: gen.entity_attrs_df(mentions, labels), "entity_attrs",
    )
    # D7 full-form property index (spindle writes its index tables; the
    # multi-predicate props are part of the materialized catalog)
    props = CP.run_global_stage(
        spark, cat, "entity_props", me,
        lambda: gen.entity_props(mentions, labels), "entity_props",
    )
    # license/media selection index (spindle license.c/media.c) — also
    # depends on the span table (media spans feed the candidates)
    media_idx = CP.run_global_stage(
        spark, cat, "entity_media", me + [spans_in],
        lambda: gen.entity_media(mentions, labels, flat), "entity_media",
    )
    # final triples additionally depend on the base-quad table (media/
    # lang triples come from spans, not mentions)
    triples = CP.run_global_stage(
        spark, cat, "triples", me + [quads_in],
        lambda: extract_final_triples(base_triples, mentions, labels), "triples",
    )

    return {
        "spans": flat, "mentions": mentions, "media_features": media,
        "base_triples": base_triples, "edges": edges, "labels": labels,
        "entities": entities, "entity_attrs": attrs, "entity_props": props,
        "entity_media": media_idx, "triples": triples,
    }


def extract_final_triples(base_quads, mentions, labels):
    """Distinct full-term union of per-doc extraction quads + root-graph
    proxy triples (the store's graph-agnostic view)."""
    cols = ["s", "p", "o", "o_kind", "o_lang", "o_datatype"]
    proxies = gen.proxy_triples_full(mentions, labels)
    return (
        base_quads.select(*cols)
        .unionByName(proxies.select(*cols))
        .dropDuplicates(cols)
    )


def main() -> None:  # pragma: no cover — cluster entry point
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="dir containing documents.parquet + embeddings.parquet")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument(
        "--sparql",
        help="run a SPARQL query (SELECT/CONSTRUCT/ASK/DESCRIBE) against "
        "an EXISTING warehouse's triples table and print the rows — no "
        "pipeline run (the store's consumer surface from the CLI)",
    )
    ap.add_argument(
        "--update",
        help="run a SPARQL UPDATE request (INSERT/DELETE DATA, DELETE "
        "WHERE, CLEAR/DROP; ';'-chained) against the warehouse's "
        "N-Quads store directory 'store' — the sparql-put surface "
        "from the CLI (round 6)",
    )
    args = ap.parse_args()
    spark = get_spark(app_name="kgspark-runner")
    if args.update:
        import os

        from .sparql import store_update

        print(store_update(
            spark, os.path.join(args.warehouse, "store"), args.update
        ))
        return
    if args.sparql:
        import os

        from .sparql import sparql_query

        t = spark.read.parquet(os.path.join(args.warehouse, "triples"))
        out_df = sparql_query(t.select("s", "p", "o"), args.sparql)
        out_df.show(100, truncate=False)
        return
    if not args.input:
        ap.error("--input is required unless --sparql is given")
    out = run_all(spark, args.input, args.warehouse, n_buckets=args.buckets)
    print({k: v.count() for k, v in out.items()})


if __name__ == "__main__":  # pragma: no cover
    main()
