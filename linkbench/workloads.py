"""The two workloads: one client each, in a closed loop.

``serve_batches``: a master fitted once with ``pipeline.fit_master`` serves
distinct query segments through
``streaming.incremental.linkage_batch_processor`` (the streaming/serving
path: fitted prefix blocking, postprocess rescoring, idempotent sink).

``cluster_grouped``: each call links a fresh one-shot grouped corpus with
``pipeline.match_names`` (per-group routing to the int-key prefix blocker
and the exact join) and clusters the links with
``operators.cluster.cluster_matches`` (the batch path).

Each workload has an untraced ``call`` (what ``link_s`` times) and a
``traced_call`` that runs the same call twice on the same input: first
layer by layer (each layer's output persisted and counted inside its own
span and Spark job group), then as the untraced call under one job group
(``pipeline.*`` numbers).  The layer-by-layer replay mirrors what
``match_names`` does; its links must equal the untraced call's.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

from pyspark.sql import functions as F

import checks
import inputs
from name_matching_spark.functions.extract import extract_name
from name_matching_spark.nm_core.preprocess import legal_word_set
from name_matching_spark.operators.blocking import (
    cosine_top_n,
    prefix_filtered_top_n,
)
from name_matching_spark.operators.cluster import cluster_matches
from name_matching_spark.operators.scoring import (
    best_matches,
    postprocess_rescore,
    score_candidates,
)
from name_matching_spark.operators.tfidf import (
    GROUP_COL,
    doc_count_table,
    explode_char_ngrams,
    idf_table,
    master_weights,
    query_weights,
)
from name_matching_spark.pipeline import (
    MatchConfig,
    _prepare,
    _resolve_plan,
    extract_pages_names,
    fit_master,
    match_names,
)
from name_matching_spark.streaming.incremental import (
    BATCH_ID_COL,
    linkage_batch_processor,
    write_batch_idempotent,
)
from spans import SparkStatus, Tracer, covered

# serve_batches sizes: the master stays above MatchConfig's default
# auto_prefix_threshold (4000), so the fit takes the prefix blocker
SERVE_MASTER = 6000
SERVE_SEGMENT = 400
# cluster_grouped: entities per corpus; the prefix threshold is about two
# thirds of it, so the big block (80%) routes to the prefix blocker and
# the small blocks to the exact join
GROUPED_ENTITIES = 400
GROUPED_PREFIX_THRESHOLD = 260
MAX_CALLS = 20          # inputs generated per run; the loop stops there
THRESHOLD = 50


def _mb(n_bytes: int) -> float:
    return n_bytes / 1e6


def _held_bytes(status: SparkStatus, before: dict) -> int:
    """Storage held by RDDs that were not held in ``before``; polled until
    two reads agree, because block updates reach the status store
    asynchronously."""
    prev = None
    for _ in range(20):
        now = status.storage()
        cur = sum(v for k, v in now.items() if k not in before)
        if cur == prev:
            break
        prev = cur
        time.sleep(0.1)
    return cur


class _Layers:
    """Spans around layer calls of one traced call, each in its own Spark
    job group; the status API is read after the call, outside its time."""

    def __init__(self, sc, tracer: Tracer, trace_id: int) -> None:
        self.sc, self.tracer, self.trace_id = sc, tracer, trace_id
        self.groups: list[tuple[str, object]] = []

    @contextmanager
    def layer(self, name: str):
        group = f"linkbench.{self.trace_id}.{len(self.tracer.spans)}.{name}"
        self.sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name, self.trace_id) as s:
                yield s
        finally:
            self.sc.setJobGroup("linkbench.untraced", "")
        self.groups.append((group, s))

    def annotate(self, status: SparkStatus) -> None:
        for group, s in self.groups:
            st = status.group_stats(group)
            s.attrs.update(jobs=st["jobs"], task_s=st["task_s"],
                           gc_s=st["gc_s"],
                           shuffle_mb=_mb(st["shuffle_bytes"]),
                           idle_s=s.duration - covered(s.start, s.end,
                                                       st["intervals"]))


def _materialize(df):
    df = df.persist()
    return df, df.count()


def _exact_links(a, b):
    """The exact-match short-circuit of ``match_names``."""
    return (
        a.filter(F.col("name_light") != "")
        .select(GROUP_COL, F.col("id").alias("a_id"),
                F.col("name_light").alias("original_name"), "name_light")
        .join(b.filter(F.col("name_light") != "")
              .select(GROUP_COL, F.col("id").alias("b_id"),
                      F.col("name_light").alias("match_name"), "name_light"),
              [GROUP_COL, "name_light"])
        .select(GROUP_COL, "a_id", "b_id", "original_name", "match_name",
                F.lit(100.0).alias("score"), F.lit("exact").alias("source")))


def _remainder(a, exact):
    return (a.join(exact.select("a_id").distinct(),
                   a["id"] == F.col("a_id"), "left_anti")
            .filter(F.col("name_norm") != ""))


def _pairs(cand, a, b):
    return (cand
            .join(a.select(GROUP_COL, F.col("id").alias("qid"),
                           F.col("name_norm").alias("query_name")),
                  [GROUP_COL, "qid"])
            .join(b.select(GROUP_COL, F.col("id").alias("mid"),
                           F.col("name_norm").alias("cand_name")),
                  [GROUP_COL, "mid"]))


def _links(exact, winners, threshold):
    fuzzy = winners.select(
        GROUP_COL, F.col("qid").alias("a_id"), F.col("mid").alias("b_id"),
        F.col("query_name").alias("original_name"),
        F.col("cand_name").alias("match_name"), "score",
        F.lit("fuzzy").alias("source"),
        (F.col("match_rank") - 1).cast("int").alias("position"))
    return (exact.withColumn("position", F.lit(0)).unionByName(fuzzy)
            .filter(F.col("score") > threshold).drop(GROUP_COL))


def _annotate_replay(layers, cand, exact, links, truth_a, master_of):
    """Counts read from the replay's cached tables after its time:
    ``blocking.recall``, the share of queries with a true master whose
    master is a candidate (an exact link counts as found), and
    ``ranking.accepted``, the fuzzy links above the threshold."""
    found = {(r[0], r[1]) for r in cand.select("qid", "mid").collect()}
    found |= {(r[0], r[1]) for r in exact.select("a_id", "b_id").collect()}
    want = [(q, master_of[e]) for q, e in truth_a.items() if e in master_of]
    spans = {s.name: s for _, s in layers.groups}  # last span of each name
    spans["blocking"].attrs["recall"] = (sum(p in found for p in want)
                                         / max(1, len(want)))
    spans["ranking"].attrs["accepted"] = links.filter(
        F.col("source") == "fuzzy").count()


class Workload:
    name = ""
    # full-size warm-up calls in set-up: a smaller warm-up leaves the first
    # timed call slower, because AQE picks other plans for other sizes
    warmup_calls = 1

    def __init__(self, spark, work: Path, seed: int,
                 tracer: Tracer | None) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.status = SparkStatus(self.sc)
        self.calls: list[dict] = []      # one record per attempted call
        self.layer_runs: list[dict] = []  # per traced call: layer -> sums
        self.once: dict = {}             # layers that run once per run

    def run_call(self, i: int) -> None:
        """Attempt timed call ``i``; record its time or its failure.  Only
        ``call`` is timed; ``before_call``/``after_call`` do the
        bookkeeping and checks around it."""
        rec = {"i": i, "ok": False, "violations": []}
        self.calls.append(rec)
        try:
            if self.tracer is None:
                state = self.before_call()
                t = time.perf_counter()
                out = self.call(i)
                rec["link_s"] = time.perf_counter() - t
                self.after_call(i, state, out)
            else:
                rec["link_s"] = self.traced_call(i)
            rec["ok"] = True
        except Exception as exc:  # a failed call is counted, not fatal
            traceback.print_exc()
            rec["violations"].append(f"raised {type(exc).__name__}: {exc}")

    def before_call(self):
        return None

    def after_call(self, i: int, state, out) -> None:
        pass

    def _trace_call(self, i: int, staged, real) -> float:
        """Span tree of one traced call: call -> staged (layer spans) and
        call -> pipeline (the untraced call in one job group).

        ``staged(layers)`` returns its links and an ``after`` callable,
        which reads what the checks need from the replay's cached tables
        and releases them, outside the replay's time and before the
        untraced call (which would otherwise read those caches)."""
        tr = self.tracer
        with tr.span("call", i):
            layers = _Layers(self.sc, tr, i)
            with tr.span("staged", i) as st:
                staged_links, after = staged(layers)
            after()
            group = f"linkbench.{i}.pipeline"
            self.sc.setJobGroup(group, "pipeline")
            try:
                with tr.span("pipeline", i) as sp:
                    real_links = real()
            finally:
                self.sc.setJobGroup("linkbench.untraced", "")
        layers.annotate(self.status)
        ps = self.status.group_stats(group)
        sp.attrs.update(jobs=ps["jobs"], gc_s=ps["gc_s"],
                        idle_s=sp.duration - covered(sp.start, sp.end,
                                                     ps["intervals"]))
        if staged_links != real_links:
            self.calls[-1]["violations"].append(
                "layer-by-layer replay diverges from the untraced call")
        sums: dict = {}
        for _, s in layers.groups:
            d = sums.setdefault(s.name, {"busy_s": 0.0})
            d["busy_s"] += s.duration
            for k, v in s.attrs.items():
                if isinstance(v, (int, float)):
                    d[k] = d.get(k, 0) + v
        sums["pipeline"] = {"jobs": ps["jobs"], "idle_s": sp.attrs["idle_s"]}
        sums["spark"] = {"gc_s": ps["gc_s"]}
        sums["trace"] = {"link_s": st.duration}
        self.layer_runs.append(sums)
        return st.duration

    def layer_metrics(self) -> dict:
        """Per-layer name -> median over traced calls (or the once-per-run
        value)."""
        keys = {(layer, k) for run in self.layer_runs
                for layer, d in run.items() for k in d}
        out = {}
        for layer, k in sorted(keys):
            vals = [run[layer][k] for run in self.layer_runs
                    if k in run.get(layer, {})]
            out[f"{layer}.{k}"] = statistics.median(vals)
        for layer, d in self.once.items():
            out.update({f"{layer}.{k}": v for k, v in d.items()})
        return out


class ServeBatches(Workload):
    name = "serve_batches"
    config = MatchConfig(threshold=THRESHOLD, legal_suffixes=True)

    def setup(self) -> None:
        w = self.work / "in"
        self.master = inputs.serve_master(self.seed, SERVE_MASTER,
                                          w / "master.parquet")
        self.segments = [
            inputs.serve_segment(self.seed, SERVE_MASTER, k, SERVE_SEGMENT,
                                 w / f"seg{k}.parquet")
            for k in range(self.warmup_calls + MAX_CALLS)]
        self.sink = str(self.work / "sink")
        self.master_of = {e: url for url, e in self.master.truth.items()}
        before = self.status.storage()
        fit_span = (self.tracer.span("fit", -1) if self.tracer
                    else nullcontext())
        group = "linkbench.setup.fit"
        self.sc.setJobGroup(group, "fit")
        with fit_span as s:
            self.fitted = fit_master(
                extract_pages_names(self.spark.read.parquet(self.master.path)),
                "url", "name", config=self.config)
        self.sc.setJobGroup("linkbench.untraced", "")
        self.fit_mb = _mb(_held_bytes(self.status, before))
        if self.tracer:
            st = self.status.group_stats(group)
            self.once["fit"] = {"busy_s": s.duration, "jobs": st["jobs"],
                                "mb": self.fit_mb}
        warm = linkage_batch_processor(
            self.spark, self.fitted, "url", "name", self.config,
            str(self.work / "warmup_sink"), extract=True)
        for k in range(self.warmup_calls):
            warm(self.spark.read.parquet(self.segments[k].path), k)
        self.process = linkage_batch_processor(
            self.spark, self.fitted, "url", "name", self.config, self.sink,
            extract=True)

    def _segment(self, i: int) -> inputs.PageSet:
        return self.segments[self.warmup_calls + i]

    def call(self, i: int) -> None:
        self.process(self.spark.read.parquet(self._segment(i).path), i)

    def traced_call(self, i: int) -> float:
        seg = self._segment(i)
        staged_sink = str(self.work / "staged_sink")

        def staged(layers):
            cand, exact, links, held = self._staged(layers, seg, i,
                                                    staged_sink)

            def after():
                _annotate_replay(layers, cand, exact, links, seg.truth,
                                 self.master_of)
                for d in held:
                    d.unpersist()

            return self._read_links(staged_sink, i), after

        def real():
            self.call(i)
            return self._read_links(self.sink, i)

        return self._trace_call(i, staged, real)

    def _read_links(self, sink: str, i: int) -> set:
        return {(r.a_id, r.b_id, round(r.score, 9)) for r in
                self.spark.read.parquet(f"{sink}/{BATCH_ID_COL}={i}")
                .select("a_id", "b_id", "score").collect()}

    def _staged(self, layers: _Layers, seg, i: int, sink: str):
        cfg, fitted = self.config, self.fitted
        b = fitted.masters
        with layers.layer("functions") as s:
            a, s.attrs["rows"] = _materialize(_prepare(
                extract_pages_names(self.spark.read.parquet(seg.path)),
                "url", "name", None, cfg))
        with layers.layer("blocking"):
            exact, _ = _materialize(_exact_links(a, b))
            rem, _ = _materialize(_remainder(a, exact))
        with layers.layer("tfidf"):
            qw, _ = _materialize(query_weights(
                explode_char_ngrams(rem, "id", "name_norm", cfg.ngram_range),
                fitted.idf))
        with layers.layer("blocking") as s:
            # the master is above the prefix threshold: the fit holds the
            # prefix blocker's tables
            cand, s.attrs["candidates"] = _materialize(prefix_filtered_top_n(
                qw, fitted.m_w, fitted.idf, cfg.top_n,
                prefix_size=fitted.prefix_size, df_cap_frac=cfg.df_cap_frac,
                round_decimals=9, master_pref=fitted.m_pref,
                master_map=fitted.m_map))
        with layers.layer("scoring") as s:
            scored, s.attrs["pairs"] = _materialize(score_candidates(
                _pairs(cand, a, b), metrics=cfg.metrics))
        with layers.layer("ranking"):
            winners, _ = _materialize(postprocess_rescore(
                best_matches(scored, 1), frozenset(legal_word_set()),
                metrics=cfg.metrics, number_of_matches=1,
                slot_col="match_rank"))
            links, n_links = _materialize(
                _links(exact, winners, cfg.threshold))
        with layers.layer("sink") as s:
            write_batch_idempotent(links, i, sink)
            s.attrs["rows"] = n_links
        return (cand, exact, links,
                [a, exact, rem, qw, cand, scored, winners, links])

    def _consolidate(self, links, comp) -> None:
        """Traced runs also cluster the served links with
        ``operators.cluster`` (outside every call), so the cluster layer is
        measured on this workload too; its components must equal the
        union-find ones."""
        group = "linkbench.consolidate.cluster"
        self.sc.setJobGroup(group, "cluster")
        with self.tracer.span("cluster", -2) as s:
            edges = self.spark.createDataFrame(links,
                                               "a_id string, b_id string")
            spark_comp = {r[0]: r[1]
                          for r in cluster_matches(edges).collect()}
        self.sc.setJobGroup("linkbench.untraced", "")
        if spark_comp != comp and self.calls:
            self.calls[-1]["violations"].append(
                "cluster_matches components differ from union-find")
        self.once["cluster"] = {
            "busy_s": s.duration,
            "jobs": self.status.group_stats(group)["jobs"],
            "components": len(set(comp.values()))}

    def finish(self) -> dict:
        """Check every timed call's output; group all served links into
        entities (union-find) for ``cluster_f1``."""
        served = [c["i"] for c in self.calls]
        rows = (self.spark.read.parquet(self.sink)
                .select("a_id", "b_id", "original_name", BATCH_ID_COL)
                .collect()) if served else []
        by_call: dict[int, list] = {}
        for r in rows:
            by_call.setdefault(r[3], []).append((r[0], r[1], r[2]))
        parts = {p for p in os.listdir(self.sink)
                 if p.startswith(BATCH_ID_COL + "=")} if served else set()
        truth_a = {}
        for c in self.calls:
            seg = self._segment(c["i"])
            truth_a.update(seg.truth)
            part = f"{BATCH_ID_COL}={c['i']}"
            c["violations"] += checks.link_violations(
                by_call.get(c["i"], []), seg.names)
            if c["ok"] and part not in parts:
                c["violations"].append(f"partition {part} missing")
            elif c["ok"]:
                c["violations"] += _written_once(Path(self.sink) / part)
        extra = parts - {f"{BATCH_ID_COL}={i}" for i in served}
        if extra and self.calls:
            self.calls[-1]["violations"].append(
                f"unexpected partitions {sorted(extra)}")
        links = [(a, b) for r in by_call.values() for a, b, _ in r]
        comp = checks.components(links)
        if self.tracer:
            self._consolidate(links, comp)
        truth = dict(self.master.truth, **truth_a)
        return {
            "match_f1": checks.match_f1(links, truth_a, self.master_of),
            "cluster_f1": checks.cluster_f1(comp, truth),
            "fit_mb": self.fit_mb,
        }


class ClusterGrouped(Workload):
    name = "cluster_grouped"
    config = MatchConfig(threshold=THRESHOLD,
                         auto_prefix_threshold=GROUPED_PREFIX_THRESHOLD)

    def setup(self) -> None:
        self.corpora = [
            inputs.grouped_corpus(self.seed * 1000 + r, GROUPED_ENTITIES,
                                  self.work / "in" / f"corpus{r}")
            for r in range(self.warmup_calls + MAX_CALLS)]
        self.counts = {"match": [0, 0, 0], "cluster": [0, 0, 0]}
        self.held_mb: list[float] = []
        for r in range(self.warmup_calls):
            before = self.before_call()
            self._link_and_cluster(*self.corpora[r])
            self._release(before)

    def _side(self, ps: inputs.PageSet):
        return (self.spark.read.parquet(ps.path)
                .select("url", extract_name(F.col("html"), F.col("text"))
                        .alias("name"), "blk"))

    def _link_and_cluster(self, queries, masters):
        """One call: link, then cluster the links; both results are
        collected to the client."""
        matches = match_names(
            self.spark, self._side(queries), self._side(masters),
            "url", "name", "url", "name", group_col_a="blk",
            group_col_b="blk", config=self.config).persist()
        try:
            links = matches.select("a_id", "b_id", "original_name",
                                   "score").collect()
            comps = cluster_matches(matches).collect()
        finally:
            matches.unpersist()
        return links, comps

    def _corpus(self, i: int):
        return self.corpora[self.warmup_calls + i]

    def before_call(self) -> dict:
        return self.status.storage()

    def call(self, i: int):
        return self._link_and_cluster(*self._corpus(i))

    def _release(self, before: dict) -> float:
        """Storage (MB) the call left persisted; then drop every cache
        (``match_names`` never unpersists its prepared sides and idf)."""
        held = _mb(_held_bytes(self.status, before))
        self.spark.catalog.clearCache()
        return held

    def after_call(self, i: int, before: dict, out) -> None:
        self.held_mb.append(self._release(before))
        self._check(i, *out)

    def traced_call(self, i: int) -> float:
        queries, masters = self._corpus(i)
        out = {}

        def staged(layers):
            links, links_df, cand, exact = self._staged(layers, queries,
                                                        masters)

            def after():
                _annotate_replay(layers, cand, exact, links_df, queries.truth,
                                 {e: url for url, e in masters.truth.items()})
                self.spark.catalog.clearCache()
                out["before"] = self.before_call()

            return {(r[0], r[1], round(r[3], 9)) for r in links}, after

        def real():
            out["real"] = self.call(i)
            return {(r[0], r[1], round(r[3], 9)) for r in out["real"][0]}

        dt = self._trace_call(i, staged, real)
        self.after_call(i, out["before"], out["real"])
        return dt

    def _staged(self, layers: _Layers, queries, masters):
        cfg = self.config
        with layers.layer("functions") as s:
            a, na = _materialize(_prepare(self._side(queries), "url", "name",
                                          "blk", cfg))
            b, nb = _materialize(_prepare(self._side(masters), "url", "name",
                                          "blk", cfg))
            s.attrs["rows"] = na + nb
        with layers.layer("fit"):
            doc_counts, _ = _materialize(doc_count_table(b, "id"))
            prefix_size, big = _resolve_plan(cfg, doc_counts)
        with layers.layer("blocking"):
            exact, _ = _materialize(_exact_links(a, b))
            rem, _ = _materialize(_remainder(a, exact))
        with layers.layer("tfidf"):
            idf, _ = _materialize(idf_table(
                explode_char_ngrams(b, "id", "name_norm", cfg.ngram_range),
                doc_counts))

            def weights(side, fn):
                return fn(explode_char_ngrams(side, "id", "name_norm",
                                              cfg.ngram_range), idf)

            if big is None:
                parts = [(rem, b, prefix_size)]
            else:
                big_b = F.broadcast(big)
                parts = [(rem.join(big_b, GROUP_COL, "leftsemi"),
                          b.join(big_b, GROUP_COL, "leftsemi"), prefix_size),
                         (rem.join(big_b, GROUP_COL, "leftanti"),
                          b.join(big_b, GROUP_COL, "leftanti"), None)]
            weighted = [(_materialize(weights(q, query_weights))[0],
                         _materialize(weights(m, master_weights))[0], p)
                        for q, m, p in parts]
        with layers.layer("blocking") as s:
            cands = [
                prefix_filtered_top_n(qw, mw, idf, cfg.top_n, prefix_size=p,
                                      df_cap_frac=cfg.df_cap_frac,
                                      round_decimals=9)
                if p is not None else
                cosine_top_n(qw, mw, cfg.top_n, idf=idf,
                             df_cap_frac=cfg.df_cap_frac, round_decimals=9)
                for qw, mw, p in weighted]
            cand = cands[0]
            for c in cands[1:]:
                cand = cand.unionByName(c)
            cand, s.attrs["candidates"] = _materialize(cand)
        with layers.layer("scoring") as s:
            scored, s.attrs["pairs"] = _materialize(score_candidates(
                _pairs(cand, a, b), metrics=cfg.metrics))
        with layers.layer("ranking"):
            winners, _ = _materialize(best_matches(scored, 1))
            links_df, _ = _materialize(_links(exact, winners, cfg.threshold))
        with layers.layer("sink") as s:
            links = links_df.select("a_id", "b_id", "original_name",
                                    "score").collect()
        with layers.layer("cluster") as s:
            comp_df, s.attrs["components"] = _materialize(
                cluster_matches(links_df))
        with layers.layer("sink") as s:
            s.attrs["rows"] = len(links) + len(comp_df.collect())
        return links, links_df, cand, exact

    def _check(self, i: int, links, comps) -> None:
        queries, masters = self._corpus(i)
        rec = self.calls[-1]
        rec["violations"] += checks.link_violations(
            [(r[0], r[1], r[2]) for r in links], queries.names)
        pairs = [(r[0], r[1]) for r in links]
        comp = {r[0]: r[1] for r in comps}
        if comp != checks.components(pairs):
            rec["violations"].append("components differ from union-find")
        master_of = {e: url for url, e in masters.truth.items()}
        truth = dict(masters.truth, **queries.truth)
        for key, counts in (
                ("match", checks.match_counts(pairs, queries.truth,
                                              master_of)),
                ("cluster", checks.cluster_counts(comp, truth))):
            self.counts[key] = [x + y for x, y in
                                zip(self.counts[key], counts)]

    def finish(self) -> dict:
        fit_mb = statistics.median(self.held_mb) if self.held_mb else 0.0
        if self.tracer:
            self.once["fit"] = {"mb": fit_mb}
        return {
            "match_f1": checks.f1(*self.counts["match"]),
            "cluster_f1": checks.f1(*self.counts["cluster"]),
            "fit_mb": fit_mb,
        }


def _written_once(part: Path) -> list[str]:
    """A partition written by one job holds part files of one write id."""
    ids = {f.split("-")[2] for f in os.listdir(part)
           if f.startswith("part-")}
    return [] if len(ids) == 1 else [f"{part.name} written by {len(ids)} jobs"]



WORKLOADS = {w.name: w for w in (ServeBatches, ClusterGrouped)}
