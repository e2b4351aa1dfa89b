"""The workloads. Each drives matchbox_spark's public API the way its user
would, times the calls end to end, and checks every output against the
generator's ground truth.

One pass of a workload is its unit of repeated work:

- ``near_dup``: one ``DAG.run`` of documents → exact n-gram Jaccard deduper
  (``operators.dedup.ngram_jaccard_pairs`` run to completion) →
  Components, then a ``DeterministicLinker`` of reference rows against
  those clusters → Components (a two-level resolver lineage); then point
  lookups through ``DAG.matcher`` interleaved with bulk ``query_data``
  reads through the whole lineage.
- ``stream_serve``: a whole stream of landing files through
  ``incremental_resolve_stream`` with a serving matcher; after every file,
  point lookups and one bulk ``query_data`` read.
"""

from __future__ import annotations

import contextlib
import functools
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matchbox_spark.operators import dedup
from matchbox_spark.operators.dedupers import Deduper, DeduperSettings, NaiveDeduper
from matchbox_spark.operators.linkers import DeterministicLinker
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.dag import DAG, Matcher
from matchbox_spark.plans.query import QueryConfig, query_data, unified_query
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.sources.source import SourceConfig
from matchbox_spark.streaming.incremental import incremental_resolve_stream

from perfbench import generators as gen

STREAM_WAIT_S = 90  # one micro-batch that takes longer counts as failed


class PassAborted(Exception):
    """An operation failed; the rest of the pass depends on it."""


@dataclass
class Recorder:
    """Samples and operation counts of one measured loop."""

    pipeline_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    units: int = 0  # pipeline runs or micro-batches (per-layer divisor)
    rows_written: int = 0  # traced loop only, like the two counts below
    model_edges: int = 0
    pairs_out: int = 0
    progress: list[dict] = field(default_factory=list)
    passes: int = 0

    def wrong(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def count_catalog(self, catalog: Catalog) -> None:
        counts = catalog.counts()
        self.rows_written += sum(counts.values())
        self.model_edges += counts["model_edges"]

    def timed(self, samples: list[float], scale: float, what: str, fn, *args):
        """Run one operation, appending its wall time to ``samples``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            self.wrong(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            raise PassAborted(what) from e
        samples.append((time.perf_counter() - t0) * scale)
        return out


def _span(tr, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _untracked(tr):
    return tr.untracked() if tr is not None else contextlib.nullcontext()


def bulk_query(spark, catalog: Catalog, config: QueryConfig, tr) -> None:
    """One bulk ``query_data`` read to completion (noop sink)."""
    with _span(tr, "query.bulk"):
        query_data(spark, catalog, config).write.format("noop").mode(
            "overwrite"
        ).save()


def write_rows(rows, schema: str, path: str) -> None:
    """Write string-typed rows as one parquet file (no Spark job, so
    input generation stays out of the program's measurements)."""
    names = [c.split()[0] for c in schema.split(",")]
    cols = list(zip(*rows)) if rows else [()] * len(names)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)}), path)


def run_lookups(matcher: Matcher, lookups, targets, expected, rec: Recorder) -> None:
    """Issue each ``(source, key)`` lookup; ``expected(source, key)`` gives
    the true key set per target."""
    for source, key in lookups:
        matches = rec.timed(
            rec.lookup_ms, 1000.0, "lookup", matcher.lookup, key, source, targets
        )
        want = expected(source, key)
        got = {m.target: m.target_keys for m in matches}
        if got != want:
            rec.wrong(f"lookup {source}:{key}")


def projection_clusters(proj: DataFrame) -> list[set[str]]:
    clusters: dict[int, set[str]] = {}
    for r in proj.select("id", "source", "key").collect():
        clusters.setdefault(r["id"], set()).add(f"{r['source']}:{r['key']}")
    return list(clusters.values())


def same_partition(a, b) -> bool:
    return {frozenset(x) for x in a} == {frozenset(x) for x in b}


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------


@dataclass
class JaccardSettings(DeduperSettings):
    text_field: str = "text"
    n: int = 2
    threshold: float = 0.5


class JaccardDeduper(Deduper):
    """Exact n-gram Jaccard dedupe: ``ngram_jaccard_pairs`` run to
    completion, its pairs kept for the correctness check."""

    settings_class = JaccardSettings
    last_pairs: DataFrame | None = None

    def dedupe(self, data: DataFrame) -> DataFrame:
        s = self.settings
        self.last_pairs = jaccard_join(data, s.id, s.text_field, s.n, s.threshold)
        return self.last_pairs.select(
            F.col("doc_a").alias("left_id"),
            F.col("doc_b").alias("right_id"),
            F.col("jaccard").cast("float").alias("score"),
        )


def jaccard_join(df: DataFrame, id_col: str, text_col: str, n: int, threshold: float) -> DataFrame:
    """``operators.dedup.ngram_jaccard_pairs`` to completion."""
    return dedup.ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold).localCheckpoint(
        eager=True
    )


@dataclass
class NearDupInputs:
    corpus: gen.Corpus
    refs: dict[str, str]  # ref key → the document key it cites
    paths: dict[str, str]  # source → parquet file
    lookups: list[tuple[str, str]]
    n: int
    threshold: float

    # the ground truth is computed on first use, outside the timed set-up
    @functools.cached_property
    def truth_pairs(self) -> dict[tuple[str, str], float]:
        return gen.exact_jaccard_pairs(self.corpus.docs, self.n, self.threshold)

    @functools.cached_property
    def clusters(self) -> dict[str, set[str]]:
        """``source:key`` → its true cluster: the exact Jaccard components
        of the documents, each with the reference rows citing its members."""
        comps = [{f"docs:{k}" for k in c} for c in gen.partition(self.corpus.docs, self.truth_pairs)]
        comp_of = {m: c for c in comps for m in c}
        for ref, doc in self.refs.items():
            comp_of[f"docs:{doc}"].add(f"refs:{ref}")
        return {m: c for c in comps for m in c}


class NearDup:
    name = "near_dup"
    docs = 3000
    warm_docs = 300
    lookups = 40
    warm_lookups = 10
    lookups_per_query = 5  # one bulk read (a query_s sample) per 5 lookups
    n = 2
    threshold = 0.5
    sources = ("docs", "refs")

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work

    def prepare(self, seed: int, warm: bool = False) -> NearDupInputs:
        corpus = gen.near_dup_corpus(self.warm_docs if warm else self.docs, seed)
        refs = gen.near_dup_refs(corpus, seed)
        base = os.path.join(self.work, "warm" if warm else "inputs")
        paths = {s: os.path.join(base, f"{s}.parquet") for s in self.sources}
        write_rows(
            [(k, t, gen.doc_code(k)) for k, t in sorted(corpus.docs.items())],
            "key string, text string, code string",
            paths["docs"],
        )
        write_rows([(r, gen.doc_code(d)) for r, d in refs.items()], "key string, code string", paths["refs"])
        rng = random.Random(seed)
        planted = [("docs", k) for fam in corpus.families for k in fam]
        rest = [("docs", k) for k in corpus.docs] + [("refs", r) for r in refs]
        lookups = gen.lookup_mix(rng, self.warm_lookups if warm else self.lookups, planted, rest, str(seed), "docs")
        return NearDupInputs(corpus, refs, paths, lookups, self.n, self.threshold)

    def describe(self, inp: NearDupInputs) -> dict:
        vocab = set().union(*(gen.shingles(t, self.n) for t in inp.corpus.docs.values()))
        return {
            "docs": len(inp.corpus.docs),
            "refs": len(inp.refs),
            "planted_families": len(inp.corpus.families),
            "planted_pairs": len(inp.corpus.planted_pairs()),
            "pairs_at_threshold": len(inp.truth_pairs),
            "shingle_vocab": len(vocab),
            "bitset_vocab_cap": gen.BITSET_VOCAB_CAP,
            "lookups_per_pass": len(inp.lookups),
            "queries_per_pass": -(-len(inp.lookups) // self.lookups_per_query),
        }

    def run_pass(self, inp: NearDupInputs, rec: Recorder, tr=None) -> None:
        docs = SourceConfig(name="docs", location=inp.paths["docs"], key_field="key", index_fields=["text", "code"])
        refs = SourceConfig(name="refs", location=inp.paths["refs"], key_field="key", index_fields=["code"])
        model = JaccardDeduper(id="id", text_field="docs_text", n=self.n, threshold=self.threshold)
        dag = DAG(self.spark)
        dag.source(docs)
        dag.source(refs)
        dag.model("dedupe_docs", model, QueryConfig(sources=[docs]))
        dag.resolver("resolve_docs", Components(), ["dedupe_docs"])
        dag.model(
            "link_refs",
            DeterministicLinker(left_id="id", right_id="id", comparisons=["l.docs_code = r.refs_code"]),
            QueryConfig(sources=[docs], resolvers=["resolve_docs"]),
            QueryConfig(sources=[refs]),
        )
        dag.resolver("resolve_all", Components(), ["link_refs"])
        rec.timed(rec.pipeline_s, 1.0, "DAG.run", dag.run)
        rec.units += 1
        if tr is not None:
            with _untracked(tr):
                rec.count_catalog(dag.catalog)
                rec.pairs_out += model.last_pairs.count()
        config = QueryConfig(sources=[docs, refs], resolvers=dag.resolver_lineage("resolve_all"))
        matcher = dag.matcher("resolve_all", list(self.sources))
        try:
            with _untracked(tr):
                self.check_pairs(matcher.projection, model.last_pairs, inp, rec)
                got = projection_clusters(matcher.projection)
            want = {frozenset(c) for c in inp.clusters.values()}
            if not same_partition(got, want):
                rec.wrong("near_dup: resolved partition differs from the exact Jaccard components and their refs")

            def expected(source, key):
                cluster = inp.clusters.get(f"{source}:{key}", set())
                return {t: {m.split(":", 1)[1] for m in cluster if m.startswith(t + ":")} for t in self.sources}

            # bulk reads interleave with the lookups, so the query_s samples
            # spread over the pass instead of sharing one burst of box noise
            per = self.lookups_per_query
            for i in range(0, len(inp.lookups), per):
                rec.timed(rec.query_s, 1.0, "query_data", bulk_query, self.spark, dag.catalog, config, tr)
                run_lookups(matcher, inp.lookups[i : i + per], list(self.sources), expected, rec)
        finally:
            matcher.close()

    def check_pairs(self, proj: DataFrame, pairs: DataFrame, inp: NearDupInputs, rec: Recorder) -> None:
        """Every returned pair's Jaccard, recomputed on the driver, is >= t
        and matches to 1e-6; every planted pair with Jaccard >= t, and
        every other pair at or above t, is returned."""
        docs = proj.where(F.col("source") == "docs").select("leaf_id", "key").collect()
        leaf_key = {r["leaf_id"]: r["key"] for r in docs}
        got: dict[tuple[str, str], float] = {}
        for r in pairs.collect():
            a, b = sorted((leaf_key[r["doc_a"]], leaf_key[r["doc_b"]]))
            got[(a, b)] = r["jaccard"]
        sets = {k: gen.shingles(v, self.n) for k, v in inp.corpus.docs.items()}
        bad = 0
        for (a, b), j in got.items():
            inter = len(sets[a] & sets[b])
            exact = inter / (len(sets[a]) + len(sets[b]) - inter)
            if exact < self.threshold or abs(exact - j) > 1e-6:
                bad += 1
        planted = {p for p in inp.corpus.planted_pairs() if p in inp.truth_pairs}
        missing = len(planted - got.keys()) + len(inp.truth_pairs.keys() - got.keys() - planted)
        if bad or missing:
            rec.wrong(f"near_dup: {bad} wrong pairs, {missing} missing pairs")


# ---------------------------------------------------------------------------
# stream_serve
# ---------------------------------------------------------------------------


@dataclass
class StreamInputs:
    plan: gen.StreamPlan
    staged: list[str]  # one parquet file per landing, in order


class StreamServe:
    name = "stream_serve"
    entities = 600
    files = 6
    lookups_per_file = 8
    warm_entities = 60
    warm_files = 2
    warm_lookups = 5
    fields = ["company_name", "crn"]

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.passes = 0

    def prepare(self, seed: int, warm: bool = False) -> StreamInputs:
        if warm:
            plan = gen.stream_plan(self.warm_entities, seed, self.warm_files, self.warm_lookups)
        else:
            plan = gen.stream_plan(self.entities, seed, self.files, self.lookups_per_file)
        base = os.path.join(self.work, "warm" if warm else "inputs")
        staged = [os.path.join(base, f"file{i}.parquet") for i in range(len(plan.files))]
        for rows, path in zip(plan.files, staged):
            write_rows(rows, plan.schema, path)
        return StreamInputs(plan, staged)

    def describe(self, inp: StreamInputs) -> dict:
        return {
            "true_entities": len(set(inp.plan.truth.values())),
            "rows_per_file": [len(f) for f in inp.plan.files],
            "lookups_per_pass": sum(len(x) for x in inp.plan.lookups),
        }

    def run_pass(self, inp: StreamInputs, rec: Recorder, tr=None) -> None:
        self.passes += 1
        root = os.path.join(self.work, f"pass{self.passes}")
        land, ckpt = os.path.join(root, "land"), os.path.join(root, "ckpt")
        os.makedirs(land)
        schema = self.spark.createDataFrame([], inp.plan.schema).schema
        catalog, matcher = Catalog(self.spark), Matcher()
        src = SourceConfig(name="crn", location=land, key_field="key", index_fields=self.fields)
        config = QueryConfig(sources=[src], resolvers=["crn_resolve"])
        try:
            for b, staged in enumerate(inp.staged):
                # land atomically: Spark's file listing skips dot files
                tmp = os.path.join(land, f".b{b}.tmp")
                shutil.copyfile(staged, tmp)
                os.rename(tmp, os.path.join(land, f"b{b:03d}.parquet"))
                rec.timed(
                    rec.pipeline_s, 1.0, "micro-batch", self.ingest, land, ckpt, schema, catalog, matcher, rec, tr
                )
                rec.units += 1
                want = inp.plan.expected_after(b)
                run_lookups(
                    matcher,
                    inp.plan.lookups[b],
                    ["crn"],
                    lambda source, key: {"crn": want.get(key, set())},
                    rec,
                )
                rec.timed(rec.query_s, 1.0, "query_data", bulk_query, self.spark, catalog, config, tr)
            with _untracked(tr):
                served = {(r["id"], r["source"], r["key"]) for r in matcher.projection.collect()}
                fresh_plan = unified_query(catalog, ["crn_resolve"], ["crn"], level="key")
                fresh = {(r["id"], r["source"], r["key"]) for r in fresh_plan.collect()}
                got = projection_clusters(matcher.projection)
                if tr is not None:
                    rec.count_catalog(catalog)
            if served != fresh:
                rec.wrong("stream_serve: served projection differs from a fresh unified_query")
            want = inp.plan.expected_after(len(inp.staged) - 1)
            truth = [{f"crn:{k}" for k in c} for c in {frozenset(v) for v in want.values()}]
            if not same_partition(got, truth):
                rec.wrong("stream_serve: final partition differs from the true entities")
        finally:
            matcher.close()
            shutil.rmtree(root, ignore_errors=True)

    def ingest(self, land, ckpt, schema, catalog, matcher, rec: Recorder, tr) -> None:
        """One landed file through ``incremental_resolve_stream``, from the
        query's start until it is idle again."""
        with _span(tr, "streaming.batch"):
            stream = self.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(land)
            q = incremental_resolve_stream(
                stream,
                catalog,
                source_step="crn",
                key_field="key",
                index_fields=self.fields,
                model=NaiveDeduper(id="id", unique_fields=["crn_crn"]),
                resolver_method=Components(),
                checkpoint_dir=ckpt,
                source_location=land,
                serving_matcher=matcher,
            )
            try:
                if not q.awaitTermination(STREAM_WAIT_S):
                    raise TimeoutError(f"micro-batch still running after {STREAM_WAIT_S} s")
            finally:
                if q.isActive:
                    q.stop()
        if tr is not None:
            for p in q.recentProgress:
                d = p["durationMs"] if isinstance(p, dict) else p.durationMs
                rec.progress.append(dict(d))


WORKLOADS = {w.name: w for w in (NearDup, StreamServe)}
