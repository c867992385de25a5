"""The workloads, and the run context that times and checks their operations.

Each workload has one kind of *operation*, whose median CPU cost is
``op_cpu_s``, and one kind of *item*, whose rate over the operations' wall
time is ``work_per_s``:

==================  ===========================================  ==========
workload            operation                                    item
==================  ===========================================  ==========
cognify_build       one from-scratch ``run_pipeline``            triple
search_mix          one ``Cognee.search`` call                   query
session_stream      one ``stream_session_lifecycle`` drain       session
update_refresh      one ``Cognee.update`` of ~1% of the files    file
==================  ===========================================  ==========

A run repeats its workload's *unit* (one build plus its resume; one deck of
queries; one drain; one update cycle) until ``--seconds`` have passed, and
always completes at least one unit.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from kgbench import checks, inputs
from kgbench.metrics import PIPELINE_STAGES, SEARCH_TYPES


def _median(values, default=0.0):
    return statistics.median(values) if values else default


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant (the
    driver JVM and its Python workers), reaped children included. Time the
    host withholds from the run is not charged."""
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:  # exited while listing
            continue
        fields = data[data.rindex(")") + 2:].split()
        stats[int(entry)] = sum(int(v) for v in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(entry))
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += stats.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """One run: the session, the seeded inputs' location and every
    operation's timing, items, Spark jobs and check outcome."""

    def __init__(self, spark, work: str, seed: int, tracer, tiny: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace = tracer
        self.tiny = tiny
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, span: str, fn, tag: str = ""):
        """Time ``fn()`` as one operation. An exception fails the operation
        and is printed, never swallowed; the result is then None."""
        before = self.trace.last_job_id() if self.trace.enabled else None
        rec = {"kind": kind, "tag": tag, "items": 0, "error": None, "jobs": []}
        cpu = tree_cpu_s()
        started = time.perf_counter()
        result = None
        try:
            with self.trace.span(span):
                result = fn()
        except Exception:
            rec["error"] = traceback.format_exc()
        rec["s"] = time.perf_counter() - started
        rec["cpu_s"] = tree_cpu_s() - cpu
        # run_stage leaves its stage label on this thread; later jobs must
        # not inherit it
        self.spark.sparkContext.setLocalProperty("spark.job.description", None)
        if self.trace.enabled:
            rec["jobs"] = self.trace.jobs_since(before)
        self.ops.append(rec)
        if rec["error"]:
            print(f"kgbench: {kind} {tag} raised:\n{rec['error']}", file=sys.stderr)
        return rec, result

    def check(self, rec: dict, name: str, fn) -> None:
        """Run one output check of ``rec``; a failed or raising check fails
        the operation."""
        if rec["error"]:
            return
        try:
            with self.trace.span(f"checks.{name}"):
                error = fn()
        except Exception:
            error = traceback.format_exc()
        if error:
            rec["error"] = f"check {name}: {error}"
            print(f"kgbench: {rec['kind']} {rec['tag']} failed {rec['error']}", file=sys.stderr)

    def timed(self, name: str, fn) -> float:
        """Wall seconds of ``fn()`` inside a span, for set-up phases and
        isolated operator timings."""
        started = time.perf_counter()
        with self.trace.span(name):
            fn()
        return time.perf_counter() - started


def _materialize(result, bench: Bench, plan_ms: list):
    """Consume a search result inside the timed region: DataFrames are
    collected to rows, completion prompts are strings already."""
    if hasattr(result, "collect"):
        rows = [tuple(r) for r in result.collect()]
        if bench.trace.enabled:
            plan_ms.append(bench.trace.plan_ms(result))
        return rows
    return result


def _write_corpus(bench: Bench, n_files: int):
    from cognee_spark.sources.corpus import build_repos_df

    path = bench.path("corpus")
    bench.layer["session.inputs_s"] = bench.timed(
        "session.inputs",
        lambda: build_repos_df(bench.spark, n_files).write.mode("overwrite").parquet(path),
    )
    return bench.spark.read.parquet(path)


def _collect_triples(tables) -> set:
    return {tuple(r) for r in tables["triples"].select("subj", "pred", "obj").collect()}


def _ledger(root: str) -> dict[str, dict]:
    from cognee_spark.store import TableStore

    return {cp["stage"]: cp for cp in TableStore(root).checkpoints()}


def _reuse_error(before: dict, after: dict) -> str | None:
    """An unchanged-corpus re-run must reuse every committed stage."""
    rebuilt = [s for s in before if after.get(s, {}).get("ts") != before[s]["ts"]]
    return f"resume rebuilt {rebuilt}" if rebuilt else None


def _golden_cache():
    """Memoizes golden-oracle calls, each seconds of pure Python."""
    cache: dict = {}

    def get(fn, *args):
        if (fn, args) not in cache:
            cache[(fn, args)] = fn(*args)
        return cache[(fn, args)]

    return get


# --- cognify_build -----------------------------------------------------------


class CognifyBuild:
    """From-scratch ``run_pipeline`` (summaries + index) into a fresh store
    root over a ~5,000-file corpus, then the unchanged re-run, which resumes.

    Set-up warms the engine with a small build first, so the measured build
    is a warm one: the cold first pass (class loading, code generation,
    Python-worker start-up) varies too much from run to run to gate on.

    Why: the extract -> link -> triples -> materialize -> index spine and the
    per-stage commits do all the work; search and streaming do none. The
    traced run also times each stage's operator in isolation and issues one
    search_mix deck over the built graph, so the search layers are traced
    although search_mix is not in BENCHMARK.json's list."""

    kind = "build"
    aliases = {"work_per_s": "build_triples_per_s", "op_cpu_s": "CPU s per build"}

    def setup(self, b: Bench) -> None:
        self.n_files = inputs.corpus_files(b.seed, b.tiny)
        self.golden = _golden_cache()
        self.repos = _write_corpus(b, self.n_files)
        self.builds = 0
        b.layer["session.warmup_s"] = b.timed("session.warmup", lambda: self._warm_up(b))

    def _warm_up(self, b: Bench) -> None:
        """A build and its resume over a small corpus of other files, so the
        measured build runs on loaded classes, compiled code and started
        Python workers."""
        from cognee_spark.sources.corpus import build_repos_df

        path, root = b.path("warmup-corpus"), b.path("warmup-kg")
        build_repos_df(b.spark, inputs.WARMUP_FILES).write.parquet(path)
        repos = b.spark.read.parquet(path)
        for _ in range(2):
            self._run(b, root, repos, inputs.WARMUP_FILES)
        b.spark.sparkContext.setLocalProperty("spark.job.description", None)
        shutil.rmtree(root)

    def _run(self, b: Bench, root: str, repos=None, n_files=None):
        from cognee_spark.pipeline import run_pipeline

        return run_pipeline(
            b.spark, self.repos if repos is None else repos, root,
            f"kgbench:{n_files or self.n_files}", compute_metrics=False,
        )

    def unit(self, b: Bench) -> None:
        from cognee_spark.sources.golden import golden_triples

        if self.builds:
            shutil.rmtree(b.path(f"kg{self.builds - 1}"), ignore_errors=True)
        root = b.path(f"kg{self.builds}")
        self.builds += 1
        rec, out = b.op("build", "pipeline.run_pipeline", lambda: self._run(b, root))
        if out is None:
            return
        ledger = _ledger(root)
        rec["items"] = ledger.get("triples", {}).get("rows", 0)
        rec["ledger"] = ledger
        self.root, self.tables = root, out["tables"]
        b.check(rec, "triples", lambda: checks.triples(
            _collect_triples(out["tables"]),
            self.golden(golden_triples, self.n_files),
        ))
        b.check(rec, "content_sha", lambda: checks.content_sha(
            {(r.repo, r.path): r.content_sha for r in out["tables"]["documents"]
             .select("repo", "path", "content_sha").collect()},
            {(r.repo, r.path): r.content for r in self.repos
             .select("repo", "path", "content").collect()},
        ))
        resume, _ = b.op("resume", "store.resume", lambda: self._run(b, root))
        resume["reused"] = sum(
            1 for s, cp in _ledger(root).items() if ledger.get(s, {}).get("ts") == cp["ts"]
        )
        b.check(resume, "resume", lambda: _reuse_error(ledger, _ledger(root)))

    def extras(self, b: Bench) -> None:
        """Traced run only: each stage's operator over the committed
        upstream tables with a noop write, the content signature, and the
        search layers."""
        from pyspark.sql import functions as F

        from cognee_spark.operators.chunking import chunk_documents
        from cognee_spark.operators.enrich import summarize_chunks
        from cognee_spark.operators.extraction import (
            CODE_LANGS, extract_from_chunks, extract_from_files, mentions_of,
            raw_edges_of,
        )
        from cognee_spark.operators.indexing import build_index
        from cognee_spark.operators.linking import (
            alias_map, code_triples, nl_triples, resolve_code_edges,
        )
        from cognee_spark.operators.materialize import (
            build_edges, build_nodes, build_structural_edges,
        )
        from cognee_spark.pipeline import content_signature

        if not hasattr(self, "tables"):
            return
        t = self.tables
        text_docs = t["documents"].where(~F.col("lang").isin(*CODE_LANGS))
        text_chunks = t["chunks"].where(~F.col("lang").isin(*CODE_LANGS))
        mentions = mentions_of(t["extractions"])
        raw_edges = raw_edges_of(t["extractions"])
        mention_kinds = t["mentions"].groupBy(F.col("canonical_name").alias("name")).agg(
            F.min("kind").alias("kind")
        )
        isolated = {
            "operators.chunking.s": lambda: chunk_documents(text_docs, max_chunk_size=512),
            "operators.extraction.s": lambda: extract_from_files(t["documents"])
            .unionByName(extract_from_chunks(text_chunks)),
            "operators.linking.aliases_s": lambda: alias_map(
                mentions.where(F.col("mode") == "nl")
            ),
            "operators.linking.triples_s": lambda: code_triples(
                resolve_code_edges(mentions, raw_edges)
            ).unionByName(nl_triples(raw_edges, t["entity_aliases"])),
            "operators.materialize.nodes_s": lambda: build_nodes(t["triples"], mention_kinds),
            "operators.materialize.edges_s": lambda: build_edges(t["triples"], t["nodes"])
            .unionByName(build_structural_edges(t["mentions"])),
            "operators.enrich.summaries_s": lambda: summarize_chunks(t["chunks"]),
            "operators.indexing.s": lambda: build_index(
                t["nodes"], t["entity_types"], t["triples"], summaries=t["summaries"]
            ),
        }
        for name, build in isolated.items():
            b.layer[name] = b.timed(name, lambda build=build: _noop(build()))
        b.layer["pipeline.content_signature_s"] = b.timed(
            "pipeline.content_signature", lambda: content_signature(self.repos)
        )
        ledger_s = sum(cp.get("wall_sec", 0.0) for cp in _ledger(self.root).values())
        b.layer["store.commit_overhead_s"] = ledger_s - sum(b.layer[n] for n in isolated)

        # the search layers, over the graph just built: each distinct query
        # of search_mix's deck once, to keep the traced run short
        from cognee_spark.search import search

        deck = Deck(self.n_files, self.golden)
        queries = list(dict.fromkeys(inputs.query_deck(b.seed, self.n_files)))
        deck.run(b, lambda q, st: search(b.spark, t, st, q), queries)
        deck.isolated(b, t, queries[0][1])


# --- search_mix --------------------------------------------------------------


class Deck:
    """Issues query decks over one graph and checks every result: against
    the golden twin where one exists (TRIPLET_COMPLETION, CODE), otherwise
    non-empty with the same digest on both repetitions of the deck."""

    def __init__(self, n_files: int, golden):
        self.n_files = n_files
        self.golden = golden
        self.digests: dict = {}

    def run(self, b: Bench, search, deck) -> None:
        for search_type, query in deck:
            self._query(b, search, search_type, query)

    def _query(self, b: Bench, search, search_type: str, query: str) -> None:
        plan: list = []
        rec, result = b.op(
            "query", f"search.{search_type}",
            lambda: _materialize(search(query, search_type), b, plan),
            tag=search_type,
        )
        rec["items"] = 1
        rec["plan_ms"] = plan
        b.check(rec, "non_empty", lambda: checks.non_empty(result))
        if search_type == "TRIPLET_COMPLETION":
            from cognee_spark.sources.golden import golden_triplet_search

            b.check(rec, "golden_triplet", lambda: checks.ranked(
                [(r[0], r[1]) for r in result],
                [(r[0], r[1]) for r in golden_triplet_search(self.n_files, query, 5)],
            ))
        elif search_type == "CODE":
            b.check(rec, "golden_code", lambda: checks.same_set(
                result, self._golden_code(query)
            ))
        else:
            key = (search_type, query)
            digest = checks.digest(result or [])
            first = self.digests.setdefault(key, digest)
            b.check(rec, "digest", lambda: None if first == digest
                    else f"{key} digest changed between repetitions")

    def _golden_code(self, needle: str) -> list:
        from cognee_spark.sources.golden import golden_nodes

        nodes = self.golden(golden_nodes, self.n_files)
        kinds = ("function", "class", "method", "module")
        return [n for n in nodes if n[2] in kinds and needle in n[1]]

    def isolated(self, b: Bench, tables: dict, query: str) -> None:
        """Traced run only: the retrieval and similarity-search operators the
        mix relies on, in isolation, with the entity top-k checked against
        its golden twin."""
        from pyspark.sql import functions as F

        from cognee_spark.functions.embeddings import hash_embedding_py
        from cognee_spark.operators.retrieval import graph_completion_context, lexical_topk
        from cognee_spark.operators.similarity_search import brute_force_topk
        from cognee_spark.sources.golden import golden_entity_search

        index = tables["embeddings"].where(F.col("collection") == "Entity_name").select(
            "item_id", "text", "embedding"
        )
        queries = b.spark.createDataFrame(
            [("q0", hash_embedding_py(query))], ["query_id", "query_vec"]
        )

        def topk(k):
            return brute_force_topk(index, queries, k=k, id_col="item_id", vec_col="embedding")

        rec, top = b.op(
            "entity_topk", "operators.similarity_search.brute_force_topk",
            lambda: topk(5).select("rank", "vec_id").collect(),
        )
        b.layer["operators.similarity_search.brute_force_topk_ms"] = 1e3 * rec["s"]
        b.check(rec, "golden_entity", lambda: checks.ranked(
            [tuple(r) for r in top],
            [(r[0], r[1]) for r in golden_entity_search(self.n_files, query, 5)],
        ))
        # the fragment distances GRAPH_COMPLETION scores against, precomputed
        # so the retrieval operator is timed alone
        distances = b.spark.createDataFrame(
            [tuple(r) for r in topk(256)
             .join(index.select(F.col("item_id").alias("vec_id"), "text"), "vec_id")
             .select("text", (1.0 - F.col("cosine")).alias("distance")).collect()],
            "name string, distance double",
        )
        b.layer["operators.retrieval.graph_completion_context_ms"] = 1e3 * b.timed(
            "operators.retrieval.graph_completion_context",
            lambda: graph_completion_context(tables["triples"], distances, query, k=5),
        )
        b.layer["operators.retrieval.lexical_topk_ms"] = 1e3 * b.timed(
            "operators.retrieval.lexical_topk",
            lambda: lexical_topk(
                tables["chunks"], query.lower(), top_k=5, text_col="text", id_col="chunk_id"
            ).collect(),
        )


class SearchMix:
    """One client issues a seeded deck of queries back to back over a graph
    built during set-up through ``Cognee.add`` + ``Cognee.cognify``.

    Why: search dispatch, retrieval, similarity search and per-query
    planning/job overhead do all the work; the pipeline and store do none.
    Not in BENCHMARK.json's list: its set-up needs a cold graph build (~30 s),
    and with it three workloads do not fit the time budget of the full set
    of runs; cognify_build's traced run measures the search layers instead."""

    kind = "query"
    aliases = {"work_per_s": "queries per second", "op_cpu_s": "CPU s per query"}

    def setup(self, b: Bench) -> None:
        from cognee_spark.api import Cognee

        n_files = inputs.corpus_files(b.seed, b.tiny)
        self.deck = Deck(n_files, _golden_cache())
        repos = _write_corpus(b, n_files)
        self.cognee = Cognee(b.spark, b.path("kg"))

        def base_build():
            self.cognee.add(repos)
            self.cognee.cognify()

        # the base build is also the warm-up: it runs every stage and builds
        # the index the queries probe
        b.layer["session.base_build_s"] = b.timed("session.base_build", base_build)
        b.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def unit(self, b: Bench) -> None:
        self.deck.run(b, self.cognee.search, inputs.query_deck(b.seed, self.deck.n_files))

    def extras(self, b: Bench) -> None:
        deck = inputs.query_deck(b.seed, self.deck.n_files)
        self.deck.isolated(b, self.cognee.tables, deck[0][1])


# --- update_refresh ------------------------------------------------------------


class UpdateRefresh:
    """Writes beside reads: ``Cognee.update`` of a seeded ~1% batch whose
    edit (appended trailing newlines) changes every content_sha but no fact,
    then three searches on the refreshed graph and one unchanged-corpus
    ``cognify()``, which must resume.

    Why: the same pipeline and store layers as cognify_build, for a small
    delta plus resume; an incremental-reuse gain shows here and not there.
    Not in BENCHMARK.json's list: one run (base build plus one ~25 s update
    cycle) does not fit the time budget of the full set of runs."""

    kind = "update"
    aliases = {"work_per_s": "files refreshed per second", "op_cpu_s": "CPU s per update"}

    def setup(self, b: Bench) -> None:
        from cognee_spark.api import Cognee

        self.n_files = inputs.corpus_files(b.seed, b.tiny)
        self.golden = _golden_cache()
        self.repos = _write_corpus(b, self.n_files)
        self.cognee = Cognee(b.spark, b.path("kg"))

        def base_build():
            self.cognee.add(self.repos)
            self.cognee.cognify()

        b.layer["session.base_build_s"] = b.timed("session.base_build", base_build)
        b.spark.sparkContext.setLocalProperty("spark.job.description", None)
        self.cycles = 0

    def unit(self, b: Bench) -> None:
        from pyspark.sql import functions as F

        from cognee_spark.sources.corpus import file_spec
        from cognee_spark.sources.golden import golden_triples

        self.cycles += 1
        indices = inputs.update_indices(b.seed + self.cycles, self.n_files)
        keys = b.spark.createDataFrame(
            [(s.repo, s.path) for s in (file_spec(i, self.n_files) for i in indices)],
            "repo string, path string",
        )
        edit = "\n" * self.cycles
        batch = (
            self.cognee.corpus().join(keys, ["repo", "path"], "left_semi")
            .withColumn("content", F.concat("content", F.lit(edit)))
            .localCheckpoint(eager=True)
        )
        rec, out = b.op("update", "pipeline.update", lambda: self.cognee.update(batch))
        if out is None:
            return
        root = self.cognee.root
        ledger = _ledger(root)
        rec["items"] = len(indices)
        rec["ledger"] = ledger
        wanted = {(r.repo, r.path): r.content for r in batch.collect()}
        b.check(rec, "content_sha", lambda: checks.content_sha(
            {(r.repo, r.path): r.content_sha for r in out["tables"]["documents"]
             .join(keys, ["repo", "path"], "left_semi").collect()},
            wanted,
        ))
        b.check(rec, "triples", lambda: checks.same_set(
            _collect_triples(out["tables"]),
            self.golden(golden_triples, self.n_files),
        ))
        for search_type, query in inputs.query_deck(b.seed + self.cycles, self.n_files)[:3]:
            q, found = b.op(
                "refresh_query", f"search.{search_type}",
                lambda: _materialize(self.cognee.search(query, search_type), b, []),
                tag=search_type,
            )
            q["items"] = 1
            b.check(q, "non_empty", lambda: checks.non_empty(found))
        resume, _ = b.op("resume", "store.resume", self.cognee.cognify)
        resume["reused"] = sum(
            1 for s, cp in _ledger(root).items() if ledger.get(s, {}).get("ts") == cp["ts"]
        )
        b.check(resume, "resume", lambda: _reuse_error(ledger, _ledger(root)))

    def extras(self, b: Bench) -> None:
        pass


# --- session_stream ------------------------------------------------------------


class SessionStream:
    """The ``applyInPandasWithState`` session-lifecycle drain
    (``__spark_entry__.stream_session_lifecycle``) over a seeded sf0.01-sized
    events table, ~10k events and ~4k sessions.

    Set-up warms the engine with a drain over a tiny events table first, so
    the measured drain is a warm one, as in ``cognify_build``.

    Why: the only workload that measures ``streaming/`` and the per-group
    Python-worker boundary; the other workloads barely touch it."""

    kind = "drain"
    aliases = {"work_per_s": "stream_sessions_per_s", "op_cpu_s": "CPU s per drain"}

    def setup(self, b: Bench) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.sf_dir = b.path("sf")
        os.makedirs(self.sf_dir)
        b.layer["session.inputs_s"] = b.timed("session.inputs", lambda: inputs.write_events(
            os.path.join(self.sf_dir, "events.parquet"), b.seed, b.tiny
        ))
        b.layer["session.warmup_s"] = b.timed("session.warmup", lambda: self._warm_up(b))
        self.listener = None
        if b.trace.enabled:
            from kgbench.trace import stream_listener

            self.listener = stream_listener()
            b.spark.streams.addListener(self.listener)
        self.oracle = None

    def _warm_up(self, b: Bench) -> None:
        sf_dir = b.path("warmup-sf")
        os.makedirs(sf_dir)
        inputs.write_events(os.path.join(sf_dir, "events.parquet"), b.seed, tiny=True)
        self.entry.stream_session_lifecycle(b.spark, sf_dir).collect()

    def _oracle(self) -> list:
        if self.oracle is None:
            import duckdb

            con = duckdb.connect()
            try:
                con.execute(
                    "CREATE VIEW events AS SELECT * FROM read_parquet('"
                    + os.path.join(self.sf_dir, "events.parquet") + "')"
                )
                self.oracle = con.execute(
                    self.entry.oracle_sql()["stream_session_lifecycle"]
                ).fetchall()
            finally:
                con.close()
        return self.oracle

    def unit(self, b: Bench) -> None:
        rec, rows = b.op(
            "drain", "streaming.drain",
            lambda: [tuple(r) for r in
                     self.entry.stream_session_lifecycle(b.spark, self.sf_dir).collect()],
        )
        if rows is None:
            return
        rec["items"] = len(rows)
        b.check(rec, "oracle", lambda: checks.session_rows(rows, self._oracle()))
        if self.listener is not None:
            self.listener.done.wait(10)

    def extras(self, b: Bench) -> None:
        if self.listener is None:
            return
        b.spark.streams.removeListener(self.listener)
        events = self.listener.events
        b.layer["streaming.batches"] = len(events)
        b.layer["streaming.state_rows_updated"] = sum(
            op.numRowsUpdated for p in events for op in p.stateOperators
        )
        b.layer["streaming.add_batch_s"] = sum(p.durationMs.get("addBatch", 0) for p in events) / 1e3
        b.layer["streaming.state_commit_ms"] = sum(
            op.commitTimeMs for p in events for op in p.stateOperators
        )
        b.layer["streaming.query_planning_ms"] = sum(
            p.durationMs.get("queryPlanning", 0) for p in events
        )


WORKLOADS = {
    "cognify_build": CognifyBuild,
    "search_mix": SearchMix,
    "session_stream": SessionStream,
    "update_refresh": UpdateRefresh,
}


# --- folding a run into metrics ----------------------------------------------


def end_to_end(b: Bench, workload, setup_s: float, retained_heap_mb: float) -> dict[str, float]:
    ops = [r for r in b.ops if r["kind"] == workload.kind]
    seconds = sum(r["s"] for r in ops)
    return {
        "setup_s": setup_s,
        "work_per_s": sum(r["items"] for r in ops) / seconds if seconds else 0.0,
        "op_cpu_s": _median([r["cpu_s"] for r in ops]),
        "retained_heap_mb": retained_heap_mb,
    }


def _percentile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def per_layer(b: Bench, workload, names: list[str]) -> dict[str, float]:
    """Fold the traced run's operations, jobs, ledger, spans and counters
    into every per-layer metric; a layer the workload does not exercise
    reads 0."""
    out = dict.fromkeys(names, 0.0)
    out.update({k: v for k, v in b.layer.items() if k in out})
    primary = [r for r in b.ops if r["kind"] == workload.kind]

    # store / pipeline: the last build's (or update's) ledger
    with_ledger = [r for r in primary if "ledger" in r]
    if with_ledger:
        last = with_ledger[-1]
        for stage, cp in last["ledger"].items():
            if f"store.{stage}.wall_s" in out:
                out[f"store.{stage}.wall_s"] = cp.get("wall_sec", 0.0)
        # every committed stage submits at least one job under its label
        out["store.commits"] = len({
            j["description"] for j in last["jobs"] if j["description"].startswith("stage:")
        })
    resumes = [r for r in b.ops if r["kind"] == "resume"]
    if resumes:
        out["store.resume_s"] = _median([r["s"] for r in resumes])
        out["store.reused_stages"] = _median([r.get("reused", 0) for r in resumes])

    # Spark stages of the primary operations, by run_stage's label
    if workload.kind in ("build", "update"):
        jobs = [j for r in primary for j in r["jobs"]]
        runs = max(1, len(primary))
        for stage in PIPELINE_STAGES:
            mine = [j for j in jobs if j["description"] == f"stage:{stage}"]
            out[f"spark.{stage}.cpu_s"] = sum(j["cpu_s"] for j in mine) / runs
            out[f"spark.{stage}.shuffle_write_mb"] = sum(j["shuffle_write_mb"] for j in mine) / runs
            out[f"spark.{stage}.jobs"] = len(mine) / runs
        out["spark.build.cpu_s"] = sum(j["cpu_s"] for j in jobs) / runs
        out["spark.build.gc_s"] = sum(j["gc_s"] for j in jobs) / runs
        out["spark.build.spill_mb"] = sum(j["spill_mb"] for j in jobs) / runs
        out["spark.build.shuffle_write_mb"] = sum(j["shuffle_write_mb"] for j in jobs) / runs
        out["spark.build.jobs"] = len(jobs) / runs
        out["spark.build.tasks"] = sum(j["tasks"] for j in jobs) / runs

    # search
    queries = [r for r in b.ops if r["kind"] in ("query", "refresh_query")]
    for t in SEARCH_TYPES:
        mine = [r for r in queries if r["tag"] == t]
        out[f"search.{t}.p50_ms"] = 1e3 * _median([r["s"] for r in mine])
        out[f"search.{t}.jobs"] = _median([len(r["jobs"]) for r in mine])
    latencies = [1e3 * r["s"] for r in queries]
    out["search.p50_ms"] = _median(latencies)
    out["search.p90_ms"] = _percentile(latencies, 0.9)
    out["search.plan_ms"] = _median([ms for r in queries for ms in r.get("plan_ms", [])])

    # streaming: Spark side of the drains
    drains = [r for r in b.ops if r["kind"] == "drain"]
    if drains:
        jobs = [j for r in drains for j in r["jobs"]]
        out["spark.stream.cpu_s"] = sum(j["cpu_s"] for j in jobs) / len(drains)
        out["spark.stream.gc_s"] = sum(j["gc_s"] for j in jobs) / len(drains)

    # spans
    for layer, seconds in b.trace.self_times().items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = seconds
    op_s = sum(r["s"] for r in primary)
    out["trace.op_p50_ms"] = 1e3 * _median([r["s"] for r in primary])
    out["trace.overhead_share"] = b.trace.cost_s / op_s if op_s else 0.0
    return out

