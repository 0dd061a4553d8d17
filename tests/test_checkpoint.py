"""Checkpoint / idempotent-resume gates (north_rule: any stage resumes
idempotently; kill-mid-stage → identical final output)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from kgspark import checkpoint as CP
from kgspark import runner
from kgspark.catalog import ParquetCatalog

# Spark jobs a no-op re-run of the clean_run warehouse may submit (34
# measured at local[8])
JOBS_BOUND = 36


def _triples(out):
    return set(map(tuple, out["triples"].select("s", "p", "o").collect()))


@pytest.fixture(scope="module")
def clean_run(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_clean"))
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    return wh, _triples(out), out


@pytest.mark.parametrize("stage", ["spans", "mentions", "base_triples"])
def test_kill_mid_stage_then_resume(spark, sf_dir, tmp_path_factory, clean_run, stage):
    """Crash mid-stage, then resume → byte-identical final output.

    Covers the three distinct bucket-keying shapes: spans (int64 doc_id
    input → string doc_id output), mentions (string → string), and
    base_triples (per-doc quads) — a resume must never clobber
    completed buckets' rows via dynamic partition overwrite."""
    _, want, clean_out = clean_run
    wh = str(tmp_path_factory.mktemp(f"wh_kill_{stage}"))
    # first attempt dies after processing all but 3 buckets of `stage`
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run_all(
            spark, sf_dir, wh, n_buckets=8,
            fail_buckets_in={stage: {0, 3, 5}},
        )
    # resume: only the missing buckets re-run; output identical to clean
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    assert _triples(out) == want
    # intermediate stage tables are also complete (not just final triples)
    assert out["spans"].count() == clean_out["spans"].count()
    assert out["base_triples"].count() == clean_out["base_triples"].count()


def test_bucket_consistency_invariant(spark, clean_run):
    """Every bucketed stage table satisfies
    bucket == pmod(xxhash64(CAST(doc_id AS STRING)), P) — the structural
    guarantee that per-bucket resume overwrites exactly its own rows."""
    wh, _, out = clean_run
    for stage in ["spans", "mentions", "media_features", "base_triples"]:
        df = out[stage]
        bad = df.filter(
            F.col("bucket")
            != F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(8)).cast("int")
        ).count()
        assert bad == 0, f"{stage}: {bad} rows in a foreign bucket"


def test_rerun_is_noop_and_stable(spark, sf_dir, clean_run):
    wh, want, _ = clean_run
    cat = ParquetCatalog(wh, 8)
    cp1 = cat.read(spark, CP.CHECKPOINT_TABLE).count()
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    cp2 = cat.read(spark, CP.CHECKPOINT_TABLE).count()
    assert _triples(out) == want
    assert cp1 == cp2, "re-run of a completed pipeline must not reprocess"


def test_noop_rerun_job_count(spark, sf_dir, clean_run):
    """A re-run with nothing to do costs bookkeeping only: per stage one
    fingerprint collect, one log read and one output read-back, plus the
    input reads and one job for all global fingerprints."""
    wh, _, _ = clean_run
    sc = spark.sparkContext
    sc.setJobGroup("noop_rerun", "no-op re-run of a finished warehouse")
    try:
        runner.run_all(spark, sf_dir, wh, n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("noop_rerun")
    assert 0 < len(jobs) <= JOBS_BOUND, len(jobs)


def test_missing_output_tables_are_recomputed(
    spark, sf_dir, clean_run, tmp_path_factory
):
    """Log rows say complete but the output table is gone → the stage
    recomputes instead of failing on the missing path (one bucketed and
    one global stage)."""
    wh_src, want, clean_out = clean_run
    wh = str(tmp_path_factory.mktemp("wh_missing"))
    shutil.copytree(wh_src, wh, dirs_exist_ok=True)
    for table in ["base_triples", "labels"]:
        shutil.rmtree(f"{wh}/{table}")
    out = runner.run_all(spark, sf_dir, wh, n_buckets=8)
    assert _triples(out) == want
    assert out["base_triples"].count() == clean_out["base_triples"].count()
    assert out["labels"].count() == clean_out["labels"].count()


def test_changed_input_invalidates_fingerprint(spark, clean_run, tmp_path_factory):
    """Fingerprint mismatch → bucket re-processed (at-least-once with
    idempotent effect)."""
    wh = str(tmp_path_factory.mktemp("wh_fp"))
    cat = ParquetCatalog(wh, 4)
    df1 = spark.createDataFrame(
        [(i, f"p{i}") for i in range(20)], "doc_id long, payload string"
    )
    from kgspark.catalog import with_bucket

    b1 = with_bucket(df1, 4)
    CP.run_bucketed_stage(
        spark, cat, "s", b1, lambda d: d.withColumn("out", F.upper("payload")), "s_out"
    )
    n1 = cat.read(spark, "s_out").count()
    # same table, one bucket's payload changes → only that bucket redone
    df2 = spark.createDataFrame(
        [(i, f"p{i}" if i != 7 else "CHANGED") for i in range(20)],
        "doc_id long, payload string",
    )
    b2 = with_bucket(df2, 4)
    out2 = CP.run_bucketed_stage(
        spark, cat, "s", b2, lambda d: d.withColumn("out", F.upper("payload")), "s_out"
    )
    assert out2.filter(F.col("out") == "CHANGED").count() == 1
    assert out2.count() == n1
    assert len(CP.latest_rows(spark, cat, "s")) == 4


def test_triple_counts_do_not_rerun_transform(spark, tmp_path_factory):
    """count_as_triples takes the per-bucket counts from the write
    itself: the transform runs once per input row, and the logged
    triple_count of each bucket equals its output rows."""
    from kgspark.catalog import with_bucket

    cat = ParquetCatalog(str(tmp_path_factory.mktemp("wh_once")), 4)
    calls = spark.sparkContext.accumulator(0)

    # an opaque kernel, like the extraction stages': no optimizer rule
    # prunes or duplicates it
    def upper(batches):
        for pdf in batches:
            calls.add(len(pdf))
            yield pdf.assign(out=pdf["payload"].str.upper())

    df = with_bucket(spark.createDataFrame(
        [(i, f"p{i}") for i in range(20)], "doc_id long, payload string"
    ), 4)
    out = CP.run_bucketed_stage(
        spark, cat, "once", df,
        lambda d: d.mapInPandas(
            upper, "doc_id long, payload string, bucket int, out string"
        ),
        "once_out", count_as_triples=True,
    )
    assert calls.value == 20
    want = {r["bucket"]: r["count"] for r in out.groupBy("bucket").count().collect()}
    got = {p: r["triple_count"] for p, r in CP.latest_rows(spark, cat, "once").items()}
    assert got == want


def test_checkpoint_metrics_lineage(spark, sf_dir, clean_run):
    wh, _, out = clean_run
    cat = ParquetCatalog(wh, 8)
    base = CP.latest_rows(spark, cat, "base_triples")
    # per-bucket triple counts sum to the stage output size
    total = sum(r["triple_count"] for r in base.values())
    assert total == out["base_triples"].count()
    # every bucketed stage has one complete row per non-empty bucket
    stages = {r["stage"] for r in CP.read_checkpoints(spark, cat).collect()}
    assert {"spans", "mentions", "media_features", "base_triples",
            "edges", "labels", "entities", "entity_attrs", "triples"} <= stages


def test_graph_replace_keyed_on_doc_graph(spark, sf_dir, clean_run, tmp_path_factory):
    """O6 (sparql-put analogue): editing ONE document and re-running
    replaces exactly that document's named graph in the base-triples
    store — every other graph's rows are byte-identical."""
    import shutil

    wh_src, _, _ = clean_run
    wh = str(tmp_path_factory.mktemp("wh_graph_put"))
    shutil.copytree(wh_src, wh, dirs_exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    trow = docs.select("doc_id", "source").orderBy("doc_id").limit(1).collect()[0]
    target, source = trow["doc_id"], trow["source"]

    before = {
        tuple(r)
        for r in ParquetCatalog(wh, 8).read(spark, "base_triples")
        .select("g", "s", "p", "o").collect()
    }

    # edit one doc: its text becomes a single entity token
    edited_dir = str(tmp_path_factory.mktemp("sf_edited"))
    edited = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == target, F.lit("customer")).otherwise(
            F.col("text")
        ),
    )
    edited.write.mode("overwrite").parquet(f"{edited_dir}/documents.parquet")
    shutil.copy(f"{sf_dir}/embeddings.parquet", f"{edited_dir}/embeddings.parquet")

    resumed = runner.run_all(spark, edited_dir, wh, n_buckets=8)
    after = {
        tuple(r)
        for r in ParquetCatalog(wh, 8).read(spark, "base_triples")
        .select("g", "s", "p", "o").collect()
    }
    g = f"doc://{target}"
    assert {t for t in before if t[0] != g} == {t for t in after if t[0] != g}, (
        "rows of untouched graphs must be identical"
    )
    assert {t for t in after if t[0] == g} != {t for t in before if t[0] == g}, (
        "the edited doc's graph must have been replaced"
    )
    assert any(t[0] == g and t[3] == f"ex://{source}/customer" for t in after)
    # global stages see the edit too: none may serve a stale checkpoint
    fresh = runner.run_all(
        spark, edited_dir, str(tmp_path_factory.mktemp("wh_edited_fresh")),
        n_buckets=8,
    )
    assert _triples(resumed) == _triples(fresh)


def test_entity_media_stage_materialized_and_correct(spark, sf_dir, clean_run):
    """run_all materializes the license/media index stage; content
    equals a direct entity_media computation (O7 index parity)."""
    from pyspark.sql import functions as F

    from kgspark import cc, extract, fixtures, link
    from kgspark import generate as gen

    _, _, out = clean_run
    assert "entity_media" in out
    got = {tuple(r) for r in out["entity_media"]
           .select("entity_id", "license", "best_media", "media_class").collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = fixtures.flat_spans(fixtures.with_spans(docs))
    m = extract.mentions_df(flat).localCheckpoint()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = link.scored_edges(m, emb, n_embeddings=500)
    labels = cc.connected_components(
        edges, m.select(F.col("norm_text").alias("node")).distinct()
    )
    want = {tuple(r) for r in gen.entity_media(m, labels, flat).collect()}
    assert got == want and got
