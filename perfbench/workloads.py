"""The benchmark's workloads.

Each workload has three steps: ``prepare`` writes its inputs from the
seed (before Spark starts), ``setup`` is the timed set-up after session
start, and ``measure`` runs the timed operations and checks their
results against the reference oracle in ``tests/oracle_kg`` or against
counts derived from the generated inputs.

* ``build_docheavy`` is the one-shot batch build, as ``python -m
  kgspark.runner`` runs it: a fresh session, then ``runner.run_all``
  into an empty warehouse.  Users of the CLI pay the JVM's compile and
  JIT cost on every build, so the build is timed without a warm-up.
* ``ingest_query`` is the ingest daemon with one consumer: a per-document
  graph store is loaded and warmed in set-up, then one client runs a
  closed loop of micro-batch ingests, graph lookups, updates and
  store-wide aggregates.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from gen import CorpusParams, write_corpus

# Long documents with few entity tokens: mention runs are short, so the
# distinct-norm graph saturates at a few hundred nodes while spans,
# mentions and base quads grow with the corpus.  The per-document
# layers do most of the work and link/cc little.
DOCHEAVY = CorpusParams(
    n_docs=400, entity_density=0.08, min_tokens=100, max_tokens=300,
    n_sources=20, n_embeddings=500,
)
N_BUCKETS = 8

# A store of short per-document graphs, and one micro-batch of new
# documents per client step.  More than 32 graphs, so every store read
# lists the graph directories with a parallel Spark job (Spark's
# parallelPartitionDiscovery threshold), as a large store does.
STORE_BASE = CorpusParams(
    n_docs=64, entity_density=0.3, min_tokens=30, max_tokens=50,
    n_sources=20, n_embeddings=500,
)
BATCH_DOCS = 40

LOOKUP_Q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
SCAN_Q = "SELECT ?p (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?p"
TAG_S, TAG_P = "ex://perfbench/tag", "ex:tag"


@dataclass
class Outcome:
    """Timed operations and check results of one workload run."""

    ops: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    values: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def run_op(self, kind: str, fn, check=None):
        """Time ``fn``; the op fails if it raises or ``check(result)`` is
        false.  Returns the result, or None when the call raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        self.ops.setdefault(kind, []).append(time.perf_counter() - t)
        if check is not None and not check(res):
            self.failed += 1
        return res

    def verify(self, ok: bool, what: str) -> bool:
        """A standalone check: attempted once, failed if false."""
        self.attempted += 1
        if not report(ok, what):
            self.failed += 1
        return ok


def report(ok: bool, what: str) -> bool:
    if not ok:
        print(f"CHECK FAILED: {what}", file=sys.stderr)
    return ok


def triple_fingerprint(df) -> tuple[int, int]:
    """(count, xor of xxhash64(s,p,o)) over the distinct (s,p,o) set."""
    from pyspark.sql import functions as F

    row = df.select("s", "p", "o").distinct().agg(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("s", "p", "o")).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def same_across_runs(state_path: str, key: str, fp: tuple[int, int]) -> bool:
    """A seed's fingerprint must agree across every run, traced or not;
    the first run of the seed records it."""
    state = {}
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
    if key in state:
        return tuple(state[key]) == fp
    state[key] = list(fp)
    tmp = state_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, state_path)
    return True


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


# --------------------------------------------------------------------------
# build_docheavy
# --------------------------------------------------------------------------
def prepare_build(tmp: str, seed: int) -> dict:
    return {"corpus": write_corpus(os.path.join(tmp, "corpus"), DOCHEAVY, seed)}


def setup_build(spark, out: Outcome, inputs: dict) -> None:
    out.verify(spark.range(8).count() == 8, "session answers a trivial job")


def measure_build(spark, out: Outcome, tmp: str, seed: int, inputs: dict,
                  state_path: str, rec=None) -> None:
    import pandas as pd

    from kgspark import runner
    from oracle_kg import oracle_triples

    corpus = inputs["corpus"]
    wh = os.path.join(tmp, "warehouse")

    def build(name):
        with rec.span(f"runner.{name}", "runner") if rec else nullcontext() as sp:
            tables = runner.run_all(spark, corpus, wh, n_buckets=N_BUCKETS)
            tables["triples"].count()
        return tables, sp

    res = out.run_op("build", lambda: build("build"))
    if res is None:
        return
    tables, build_span = res
    fp = triple_fingerprint(tables["triples"])
    out.values["triples"] = fp[0]

    docs = pd.read_parquet(os.path.join(corpus, "documents.parquet"))
    embs = pd.read_parquet(os.path.join(corpus, "embeddings.parquet"))
    gold, _ = oracle_triples(docs, embs)
    gold_set = set(map(tuple, gold.itertuples(index=False)))
    got = set(map(tuple, tables["triples"].select("s", "p", "o").toPandas()
                  .itertuples(index=False)))
    out.verify(got == gold_set, f"run_all vs oracle: {len(got - gold_set)} extra, "
                                f"{len(gold_set - got)} missing triples")
    out.verify(same_across_runs(state_path, f"build_docheavy:{seed}", fp),
               "fingerprint differs from an earlier run of this seed")
    if rec is None:
        return

    # Traced runs also time the restart path: a second run_all on the
    # completed warehouse, where every stage's checkpoint is hit.
    out.layer.update(build_layers(rec, build_span, tables, wh))
    logged = bucket_checkpoints(spark, wh)
    out.run_op("resume", lambda: build("resume"),
               lambda r: report(triple_fingerprint(r[0]["triples"]) == fp,
                                "fingerprint differs after resume"))
    # a resume that skips every bucket appends no bucket checkpoint rows
    out.layer["checkpoint.buckets_skipped"] = 2 * logged - bucket_checkpoints(spark, wh)


def bucket_checkpoints(spark, wh: str) -> int:
    from pyspark.sql import functions as F

    return spark.read.parquet(os.path.join(wh, "_checkpoint")).filter(
        F.col("part_id") >= 0).count()


def build_layers(rec, build_span: dict, tables: dict, wh: str) -> dict:
    """Per-layer self times of the traced build, plus row counts."""
    from pyspark.sql import functions as F

    from kgspark import cc

    by_name: dict[str, float] = {}
    by_layer: dict[str, float] = {}
    for s in rec.subtree(build_span["id"]):
        st = rec.self_time(s)
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + st
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + st

    def span(*names):
        return sum(by_name.get(n, 0.0) for n in names)

    def write(table):
        return span(f"catalog.write[{table}]", f"catalog.write_bucketed[{table}]")

    build_s = build_span["end"] - build_span["start"]
    files, size = tree_size(wh)
    n_edges = tables["edges"].count()
    threshold = int(os.environ.get("KGSPARK_CC_DRIVER_THRESHOLD", cc.DEFAULT_DRIVER_THRESHOLD))
    return {
        "fixtures.spans_s": write("spans"),
        "fixtures.span_rows": tables["spans"].count(),
        "extract.mentions_s": write("mentions"),
        "extract.mention_rows": tables["mentions"].count(),
        "extract.base_quads_s": write("base_triples") + span("extract.base_quads"),
        "extract.quad_rows": tables["base_triples"].count(),
        "extract.media_s": write("media_features"),
        "link.edges_s": write("edges") + span("link.scored_edges"),
        "link.norms": tables["labels"].count(),
        "link.edges": n_edges,
        "cc.labels_s": write("labels") + span("cc.connected_components"),
        "cc.components": tables["labels"].select(F.col("label")).distinct().count(),
        "cc.driver_path": 1 if n_edges <= threshold else 0,
        "generate.entities_s": write("entities"),
        "generate.attrs_s": write("entity_attrs"),
        "generate.props_s": write("entity_props"),
        "generate.media_s": write("entity_media"),
        "generate.triples_s": write("triples"),
        "checkpoint.fingerprint_s": span("checkpoint.run_bucketed_stage",
                                         "checkpoint.bucket_fingerprints"),
        "checkpoint.log_s": span("checkpoint.read_checkpoints",
                                 "checkpoint.write_checkpoint_rows"),
        "catalog.bytes": size,
        "catalog.files": files,
        "runner.self_s": by_layer.get("runner", 0.0),
        "trace.build_s": build_s,
        "trace.layer_sum_s": sum(by_layer.values()),
        "trace.link_cc_share": (by_layer.get("link", 0.0) + by_layer.get("cc", 0.0)) / build_s,
    }


# --------------------------------------------------------------------------
# ingest_query
# --------------------------------------------------------------------------
def expected_quads(docs) -> dict[str, dict[str, int]]:
    """Per-graph, per-predicate counts of ``extract.base_quads`` output,
    derived from the reference oracle's spans and mentions."""
    from kgspark import grammar as G
    from oracle_kg import oracle_mentions, oracle_spans

    spans = oracle_spans(docs)
    mentions = oracle_mentions(spans)
    iris = {str(d): n for d, n in mentions.groupby("doc_id")["mention_iri"].nunique().items()}
    media = {str(d) for d in spans.loc[spans["kind"] == "media", "doc_id"]}
    out = {}
    for d in map(str, docs["doc_id"]):
        counts = {G.P_LANGUAGE: 1}
        if iris.get(d):
            counts[G.P_MENTIONS] = counts[G.P_TYPE] = iris[d]
        if d in media:
            counts[G.P_HAS_MEDIA] = 1
        out[f"{G.DOC_IRI_PREFIX}{d}"] = counts
    return out


def prepare_ingest(tmp: str, seed: int, n_batches: int) -> dict:
    """The store's corpus and ``n_batches`` micro-batches of new
    documents; the first batch is the set-up's warm-up."""
    import pandas as pd

    from kgspark import grammar as G

    dirs = [write_corpus(os.path.join(tmp, "store_corpus"), STORE_BASE, seed)]
    for k in range(n_batches):
        p = CorpusParams(
            BATCH_DOCS, STORE_BASE.entity_density, STORE_BASE.min_tokens,
            STORE_BASE.max_tokens, STORE_BASE.n_sources, STORE_BASE.n_embeddings,
            first_doc_id=STORE_BASE.n_docs + k * BATCH_DOCS,
        )
        dirs.append(write_corpus(os.path.join(tmp, f"batch{k}"), p, seed))
    docs = [pd.read_parquet(os.path.join(d, "documents.parquet")) for d in dirs]
    graphs = [[f"{G.DOC_IRI_PREFIX}{i}" for i in d["doc_id"]] for d in docs]
    return {
        "base": dirs[0], "base_graphs": graphs[0],
        "batches": list(zip(dirs[1:], graphs[1:])),
        "expected": expected_quads(pd.concat(docs)),
    }


def quads_of(spark, corpus: str):
    """The ingest path: span synthesis, mentions and per-document quads."""
    from kgspark import extract, fixtures

    flat = fixtures.flat_spans(fixtures.with_spans(
        spark.read.parquet(os.path.join(corpus, "documents.parquet"))))
    return extract.base_quads(flat, extract.mentions_df(flat))


class StoreClient:
    """One consumer of the store that knows what it should contain."""

    def __init__(self, spark, store: str, inputs: dict):
        self.spark, self.store = spark, store
        self.expected = inputs["expected"]
        self.live = {g: dict(self.expected[g]) for g in inputs["base_graphs"]}
        self.totals: dict[str, int] = {}
        for c in self.live.values():
            self._add(c)

    def _add(self, counts: dict[str, int]) -> None:
        for p, n in counts.items():
            self.totals[p] = self.totals.get(p, 0) + n

    def written(self, graphs) -> int:
        n = 0
        for g in graphs:
            self.live[g] = dict(self.expected[g])
            self._add(self.expected[g])
            n += sum(self.expected[g].values())
        return n

    def lookup(self, g: str) -> bool:
        from kgspark import sparql

        rows = sparql.store_sparql(self.spark, self.store, LOOKUP_Q, graph=g).collect()
        want = sum(self.live[g].values())
        return report(len(rows) == want, f"lookup {g}: {len(rows)} rows, want {want}")

    def scan(self) -> bool:
        from kgspark import sparql

        got = {r["p"]: int(r["n"])
               for r in sparql.store_sparql(self.spark, self.store, SCAN_Q).collect()}
        want = {p: n for p, n in self.totals.items() if n}
        return report(got == want, f"scan {got} != {want}")

    def update(self, g: str, verb: str, tag: str) -> None:
        from kgspark import sparql

        sparql.store_update(
            self.spark, self.store,
            f'{verb} DATA {{ GRAPH <{g}> {{ <{TAG_S}> <{TAG_P}> "{tag}" }} }}')
        delta = 1 if verb == "INSERT" else -1
        self.live[g][TAG_P] = self.live[g].get(TAG_P, 0) + delta
        self._add({TAG_P: delta})


def setup_ingest(spark, out: Outcome, store: str, inputs: dict) -> StoreClient:
    """Load the store, then warm every operation of a loop step once:
    ingest the first micro-batch, insert a triple into one of its graphs,
    look that graph up, delete the triple again and run one aggregate
    (the reads are checked).  Without the warm-up the first timed step
    pays the JIT and code generation of the ingest and update paths."""
    from kgspark import rdfio

    rdfio.write_nquads_store(quads_of(spark, inputs["base"]), store)
    client = StoreClient(spark, store, inputs)
    batch, graphs = inputs["batches"][0]
    rdfio.replace_graphs(quads_of(spark, batch), store)
    client.written(graphs)
    client.update(graphs[0], "INSERT", "warm-up")
    out.verify(client.lookup(graphs[0]), "warm-up lookup")
    client.update(graphs[0], "DELETE", "warm-up")
    out.verify(client.scan(), "warm-up aggregate")
    return client


def measure_ingest(spark, out: Outcome, seed: int, seconds: float, inputs: dict,
                   client: StoreClient, rec=None) -> None:
    """Closed loop, one client.  Each step ingests one micro-batch by
    graph replace, updates a graph (INSERT DATA and DELETE DATA of one
    triple alternate), looks up a graph written this step and the
    updated graph (read-your-writes), and runs one store-wide
    aggregate."""
    from kgspark import rdfio

    rng = random.Random(seed)
    store = client.store
    ingested, files_per_replace, steps = 0, [], []
    updated, tagged = None, False
    first_span = len(rec.spans) if rec is not None else 0
    t0 = time.perf_counter()
    for batch, new_graphs in inputs["batches"][1:]:
        if steps and time.perf_counter() - t0 >= seconds:
            break
        t_step = time.perf_counter()
        if out.run_op("ingest", lambda: rdfio.replace_graphs(quads_of(spark, batch), store)
                      or True) is None:
            break
        ingested += client.written(new_graphs)
        if rec is not None:
            dirs = rdfio.store_graph_dirs(store)
            files_per_replace.append(sum(tree_size(dirs[g])[0] for g in new_graphs))
        if not tagged:
            updated = rng.choice(sorted(client.live))
        verb = "DELETE" if tagged else "INSERT"
        if out.run_op("update", lambda: client.update(updated, verb, str(seed)) or True):
            tagged = not tagged
        out.run_op("lookup", lambda: client.lookup(rng.choice(new_graphs)), bool)
        out.run_op("lookup", lambda: client.lookup(updated), bool)
        out.run_op("scan", client.scan, bool)
        steps.append(time.perf_counter() - t_step)
    loop_s = time.perf_counter() - t0

    out.ops["step"] = steps
    out.values["triples"] = ingested
    out.values["loop_s"] = loop_s
    out.values["ops_per_s"] = sum(
        len(out.ops.get(k, [])) for k in ("ingest", "update", "lookup", "scan")) / loop_s
    if rec is not None:
        out.layer.update(store_layers(spark, rec, first_span, store, files_per_replace, rng))


def store_layers(spark, rec, first_span: int, store: str, files_per_replace, rng) -> dict:
    """Store-layer metrics; latencies are medians over the loop's spans
    (from ``rec.spans[first_span]`` on), apart from the set-up's store
    write."""
    from pyspark.sql import functions as F

    from kgspark import rdfio, sparql

    def med(name, self_time=False, since=first_span):
        xs = [rec.self_time(s) if self_time else s["end"] - s["start"]
              for s in rec.spans[since:] if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    files, _ = tree_size(store)
    graphs = sorted(rdfio.store_graph_dirs(store))
    layers = {
        "rdfio.store_write_s": med("rdfio.write_nquads_store", since=0),
        "rdfio.store_graphs": len(graphs),
        "rdfio.store_files": files,
        "rdfio.open_s": med("rdfio.read_nquads_store"),
        "rdfio.replace_s": med("rdfio.replace_graphs"),
        "rdfio.files_per_replace": statistics.mean(files_per_replace) if files_per_replace else 0,
        "sparql.update_s": med("sparql.store_update", self_time=True),
    }
    # The same queries through sparql_query over an in-memory frame of
    # the same quads: separates the query engine from store I/O.
    mem = rdfio.read_nquads_store(spark, store).cache()
    mem.count()
    lookups, scans = [], []
    for _ in range(3):
        g = rng.choice(graphs)
        t = time.perf_counter()
        sparql.sparql_query(mem.filter(F.col("g") == g).select("s", "p", "o").distinct(),
                            LOOKUP_Q).collect()
        lookups.append(time.perf_counter() - t)
        t = time.perf_counter()
        sparql.sparql_query(mem.select("g", "s", "p", "o"), SCAN_Q).collect()
        scans.append(time.perf_counter() - t)
    mem.unpersist()
    layers["sparql.lookup_mem_s"] = statistics.median(lookups)
    layers["sparql.scan_mem_s"] = statistics.median(scans)
    return layers
