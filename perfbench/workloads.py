"""The benchmark's workloads, their output checks and the per-layer
probes of the traced run.

Each workload function takes a ``Run`` and fills in its metrics. The timed
part of a run repeats one operation until ``--seconds`` have passed and
reports medians; inputs are generated before any timing and are not
counted. Every layer is reached from outside, through its public calls.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from log_analysis_spark.benchmark_suite import (ACCURACY_FLOOR_PCT,
                                                adversarial_specs,
                                                make_templates, synth_corpus,
                                                ultra_specs)
from log_analysis_spark.entry_queries import queries_map
from log_analysis_spark.enrich import enrich
from log_analysis_spark.induction import induce_and_rematch, induce_templates
from log_analysis_spark.matcher import with_template_id
from log_analysis_spark.operators.aggregates import (conv_histogram,
                                                     error_tallies,
                                                     grouping_accuracy,
                                                     template_counts)
from log_analysis_spark.plans.pipeline import run_pipeline
from log_analysis_spark.sources.readers import loghub_template_to_regex
from log_analysis_spark.sources.writers import (PARQUET, read_sink,
                                                route_and_write, sink_counts)
from log_analysis_spark.streaming.stream import (MatcherBox,
                                                 file_transcript_stream,
                                                 route_stream)
from log_analysis_spark.synth import (ERROR_TEMPLATE_IDS, POOL_TEMPLATES,
                                      render_text, role_dict,
                                      synth_transcripts, tool_dict)
from log_analysis_spark.templates import CompiledMatcher, LogTemplate

import corpus
from measure import MemSampler, Tracer, cpu_count


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``FULL`` is what the benchmark measures; ``SMOKE`` is
    the toy size its self-test runs."""

    transcript_convs: int       # ~17.6 turns per conversation
    mixed_lines_per_dataset: int  # x 22 datasets
    stream_convs: int
    stream_files: int
    sample_lines: int           # driver-side score/AC probe sample
    sample_check_mod: int       # 1 in N rows checked against the driver
    queries: tuple[str, ...]
    pipeline_warmup_reps: int


FULL = Scale(transcript_convs=24_000, mixed_lines_per_dataset=5_000,
             stream_convs=6_000, stream_files=40, sample_lines=50_000,
             sample_check_mod=256, queries=corpus.QUERIES, pipeline_warmup_reps=2)
SMOKE = Scale(transcript_convs=300, mixed_lines_per_dataset=200,
              stream_convs=60, stream_files=3, sample_lines=2_000,
              sample_check_mod=4,
              queries=("vocab_stats", "induced_templates", "mask_signature"),
              pipeline_warmup_reps=1)

MIN_REPS = 3
SCORE_BATCH_ROWS = 10_000
# purity floor for mixed_pool_match; grouping accuracy uses the
# reference's own floor (ACCURACY_FLOOR_PCT)
PURITY_FLOOR_PCT = 60.0


@dataclass
class Run:
    """One benchmark run: session, scratch directory, seed, and tallies."""

    spark: object
    work: str                   # scratch, removed after the run
    cache: str                  # inputs kept across runs of one checkout
    seed: int
    seconds: float
    scale: Scale
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    samples: dict = field(default_factory=dict)   # run context, not metrics
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    setup_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def span(self, name: str):
        return self.tracer.span(name)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def settle(run: Run) -> None:
    """Full garbage collection in the JVM and in this process, untimed, so
    that a collection left over from earlier work never lands in a timed
    repetition."""
    gc.collect()
    run.spark.sparkContext._jvm.System.gc()


def timed_reps(run: Run, rep, check) -> list[float]:
    """Repeat ``rep(i)`` until ``run.seconds`` have passed, at least
    ``MIN_REPS`` times; a traced run, which reports no end-to-end metric,
    runs it once. ``check(out)`` returns a list of problems; a rep that
    raises or has problems counts as failed and gives no sample."""
    walls: list[float] = []
    traced = run.tracer is not None
    min_reps = 1 if traced else MIN_REPS
    deadline = time.perf_counter() + (0 if traced else run.seconds)
    i = 0
    while i < min_reps or time.perf_counter() < deadline:
        run.attempted += 1
        settle(run)
        try:
            wall, out = timed(lambda: rep(i))
            problems = check(out)
        except Exception as exc:  # a failed op is counted, not fatal
            wall, problems = None, [f"rep {i} raised {exc!r}"]
        if problems:
            run.fail("; ".join(problems))
        else:
            walls.append(wall)
        i += 1
    if not walls:
        raise RuntimeError("every timed repetition failed: " + " | ".join(run.problems))
    return walls


def compile_matcher(run: Run, templates) -> CompiledMatcher:
    """Compile three times; the median goes into set-up time."""
    times = []
    for _ in range(3):
        t, matcher = timed(lambda: CompiledMatcher(templates=tuple(templates)))
        times.append(t)
    run.put("templates.compile_s", statistics.median(times), "s")
    run.put("templates.fragments", len(matcher.fragments), "count")
    run.setup_s += statistics.median(times)
    return matcher


def put_e2e(run: Run, walls: list[float], rows: int, mem: MemSampler) -> None:
    wall = statistics.median(walls)
    run.put("wall_s", wall, "s")
    run.put("rows_per_s", rows / wall, "rows/s")
    run.put("setup_s", run.setup_s, "s")
    run.put("peak_pss_mb", mem.peak_mb, "MB")
    run.samples["walls_s"] = walls
    run.samples["rows"] = rows


def sample_mismatches(rows: list[tuple[str, object]], matcher: CompiledMatcher) -> int:
    """Rows whose Spark template id differs from the driver-side
    ``match_series`` over the same line."""
    texts = pd.Series([r[0] for r in rows], dtype=object)
    want = matcher.match_series(texts)
    bad = 0
    for (_, got), exp in zip(rows, want):
        exp = None if pd.isna(exp) else int(exp)
        bad += (None if got is None else int(got)) != exp
    return bad


def sample_rows(run: Run, df, text_col: str, key_cols: tuple[str, ...]):
    """A seeded ~1/N row sample of (text, template_id)."""
    keep = F.pmod(F.xxhash64(F.lit(run.seed), *key_cols),
                  F.lit(run.scale.sample_check_mod)) == 0
    return [(r[0], r[1]) for r in
            df.filter(keep).select(text_col, "template_id").collect()]


def quality(pairs: list[tuple[str, object, int]]) -> dict[str, float]:
    """Grouping accuracy, template purity and unmatched share from
    (truth event, template id, count) triples.

    Accuracy follows ``operators.aggregates.grouping_accuracy``: a line is
    right when its template is its event's modal template. Purity is the
    other direction: a line is pure when its event is its template's
    modal event, so two events merged into one template lose purity even
    though each keeps its modal template."""
    total = sum(n for _, _, n in pairs)
    by_event: dict[str, dict] = {}
    by_tmpl: dict[object, dict] = {}
    for ev, tid, n in pairs:
        by_event.setdefault(ev, {})[tid] = n
        if tid is not None:
            by_tmpl.setdefault(tid, {})[ev] = n

    def modal(counts: dict) -> object:
        # count desc, key asc with NULL last: grouping_accuracy's tie-break
        return min(counts, key=lambda k: (-counts[k], k is None, k if k is not None else 0))

    correct = sum(c[modal(c)] for c in by_event.values() if modal(c) is not None)
    pure = sum(c[modal(c)] for c in by_tmpl.values())
    unmatched = sum(n for _, tid, n in pairs if tid is None)
    return {"grouping_accuracy_pct": 100.0 * correct / total,
            "template_purity_pct": 100.0 * pure / total,
            "unmatched_pct": 100.0 * unmatched / total}


def put_quality(run: Run, q: dict[str, float]) -> None:
    for k, v in q.items():
        run.put(f"quality.{k}", v, "%")


def driver_sample(run: Run, df, text_col: str) -> pd.Series:
    """A seeded sample of ``sample_lines`` texts, collected once."""
    n = df.count()
    frac = min(1.0, 1.2 * run.scale.sample_lines / max(n, 1))
    rows = df.sample(fraction=frac, seed=run.seed).select(text_col) \
        .limit(run.scale.sample_lines).collect()
    return pd.Series([r[0] for r in rows], dtype=object)


def probe_templates(run: Run, matcher: CompiledMatcher, texts: pd.Series) -> float:
    """``score_batch`` alone, on the driver, in 10K-row batches. Returns
    the score cost in seconds per line."""
    chunks = [texts.iloc[i:i + SCORE_BATCH_ROWS]
              for i in range(0, len(texts), SCORE_BATCH_ROWS)]
    matched = 0
    with run.span("templates.score_batch"):
        for c in chunks:
            ids, _ = matcher.score_batch(c)
            matched += int((ids >= 0).sum())
    score_s = run.tracer.duration("templates.score_batch") / len(texts)
    run.put("templates.score_us_per_line", score_s * 1e6, "us")
    run.put("templates.match_rate_pct", 100.0 * matched / len(texts), "%")
    return score_s


def probe_ac(run: Run, matcher: CompiledMatcher, texts: pd.Series) -> None:
    """The automaton the matcher compiled for itself, alone, on the same
    10K-row batches. Pools under 32 fragments compile none unless
    ``ac_mode`` asks for one."""
    automaton = getattr(matcher, "_automaton", None)
    hits = 0
    with run.span("ac.contains"):
        for i in range(0, len(texts), SCORE_BATCH_ROWS):
            c = texts.iloc[i:i + SCORE_BATCH_ROWS]
            if hasattr(automaton, "contains_pairs"):
                hits += len(automaton.contains_pairs(c)[0])
            else:
                hits += int(automaton.contains_matrix(c).sum())
    run.put("ac.contains_us_per_line",
            run.tracer.duration("ac.contains") / len(texts) * 1e6, "us")
    run.put("ac.hits_per_line", hits / len(texts), "count")


def probe_matcher(run: Run, df, matcher, text_col: str, rows: int, score_s: float) -> float:
    """Scan alone, then scan + match UDF; the rest is the Python boundary."""
    with run.span("matcher.scan"):
        df.select(F.sum(F.length(text_col))).collect()
    with run.span("matcher.pass"):
        with_template_id(df, run.spark, matcher, text_col=text_col) \
            .filter(F.col("template_id").isNotNull()).count()
    scan = run.tracer.duration("matcher.scan")
    pas = run.tracer.duration("matcher.pass")
    run.put("matcher.scan_s", scan, "s")
    run.put("matcher.pass_s", pas, "s")
    run.put("matcher.boundary_s", pas - scan - rows * score_s / cpu_count(), "s")
    run.put("matcher.self_s", pas - scan, "s")
    return pas


def put_overhead(run: Run, untraced: float, traced: float) -> None:
    run.put("trace.e2e_s", traced, "s")
    run.put("trace.overhead_s", traced - untraced, "s")


# --------------------------------------------------------------------------
# pipeline_fanout
# --------------------------------------------------------------------------

def pipeline_problems(counts: dict[str, int], n_input: int,
                      agg_totals: dict[str, int], direct: dict[str, int]) -> list[str]:
    """Row conservation across the sinks, and aggregate totals against
    direct counts over the ``by_role`` sink."""
    out = []
    if counts["by_role"] != n_input:
        out.append(f"by_role {counts['by_role']} != input {n_input}")
    if counts["matched"] + counts["unmatched"] != counts["by_role"]:
        out.append(f"matched {counts['matched']} + unmatched {counts['unmatched']}"
                   f" != by_role {counts['by_role']}")
    if counts["matched"] != direct["matched"]:
        out.append(f"matched sink {counts['matched']} != direct {direct['matched']}")
    # template_counts keeps a NULL-template group; with fewer groups
    # than its top-k, its counts cover every input row
    want = {"template_counts": n_input, "conv_turns": n_input,
            "conv_matched": direct["matched"], "conv_errors": direct["errors"],
            "error_tallies": direct["errors"]}
    for k, v in want.items():
        if agg_totals.get(k) != v:
            out.append(f"aggregate {k} total {agg_totals.get(k)} != direct {v}")
    return out


def _agg_totals(spark, paths: dict[str, str]) -> dict[str, int]:
    tc = spark.read.parquet(paths["template_counts"]).agg(F.sum("log_count")).first()[0]
    ch = spark.read.parquet(paths["conv_histogram"]).agg(
        F.sum("n_turns"), F.sum("n_matched"), F.sum("n_errors")).first()
    et = spark.read.parquet(paths["error_tallies"]).agg(F.sum("error_count")).first()[0]
    return {"template_counts": tc or 0, "conv_turns": ch[0] or 0,
            "conv_matched": ch[1] or 0, "conv_errors": ch[2] or 0,
            "error_tallies": et or 0}


def _direct_counts(spark, by_role_path: str, schema) -> dict[str, int]:
    routed = read_sink(spark, by_role_path, schema=schema)
    row = routed.agg(
        F.sum(F.col("template_id").isNotNull().cast("long")),
        F.sum(F.col("template_id").isin(list(ERROR_TEMPLATE_IDS)).cast("long"))).first()
    return {"matched": row[0] or 0, "errors": row[1] or 0}


def _truth_event(seed: int):
    """The generator's ground-truth event, recomputed from the row keys
    (conv_id is ``conv%06d`` of the generator's conversation index)."""
    cid = F.substring("conv_id", 5, 100).cast("long")
    return render_text(seed, cid, F.col("turn_idx"))[1]


def pipeline_fanout(run: Run) -> None:
    spark = run.spark
    src = run.path("transcripts")
    synth_transcripts(spark, run.scale.transcript_convs, seed=run.seed).write.parquet(src)
    df = spark.read.parquet(src)
    n_rows = df.count()

    matcher = compile_matcher(run, POOL_TEMPLATES)

    def rep(i):
        out = run.path("out", f"rep{i}")
        return out, run_pipeline(spark, df, matcher, out, resume=False,
                                 collect_partition_metrics=False)

    t0 = time.perf_counter()
    for i in range(run.scale.pipeline_warmup_reps):
        shutil.rmtree(rep(f"warm{i}")[0])
    run.setup_s += time.perf_counter() - t0

    direct: dict[str, int] = {}

    def check(res):
        out, man = res
        problems = []
        if not direct:
            # once per run: direct counts, and a sampled id check
            by_role = man["sink_paths"]["by_role"]
            direct.update(_direct_counts(spark, by_role, df.schema))
            sampled = sample_rows(run, read_sink(spark, by_role), "text",
                                  ("conv_id", "turn_idx"))
            bad = sample_mismatches(sampled, matcher)
            if bad:
                problems.append(f"{bad}/{len(sampled)} sampled template ids"
                                " differ from match_series")
        problems += pipeline_problems(man["sink_counts"], n_rows,
                                      _agg_totals(spark, man["aggregate_paths"]), direct)
        shutil.rmtree(out)
        return problems

    with MemSampler() as mem:
        walls = timed_reps(run, rep, check)
    put_e2e(run, walls, n_rows, mem)
    if run.tracer is None:
        return

    settle(run)
    with run.span("e2e.run_pipeline"):
        out, man = rep("traced")
    put_overhead(run, statistics.median(walls), run.tracer.duration("e2e.run_pipeline"))
    put_pipeline_stages(run, man)
    shutil.rmtree(out)

    with run.span("layers"):
        texts = driver_sample(run, df, "text")
        score_s = probe_templates(run, matcher, texts)
        pas = probe_matcher(run, df, matcher, "text", n_rows, score_s)
        probe_transcript_layers(run, df, matcher, pas)
        assignments = read_sink(spark, run.path("probe", "sinks", "by_role")) \
            .select(_truth_event(run.seed).alias("event_id"), "template_id")
        with run.span("aggregates.grouping_accuracy"):
            grouping_accuracy(assignments).collect()
        run.put("aggregates.grouping_accuracy_s",
                run.tracer.duration("aggregates.grouping_accuracy"), "s")
        put_quality(run, quality(_event_template_counts(assignments)))
        # layers this workload does not call, probed on its own input
        # (induction on its unknown lines, a dense automaton over its
        # fragments) or on theirs (the operator leaves)
        probe_induction(run, df, matcher, "text")
        probe_ac(run, CompiledMatcher(templates=POOL_TEMPLATES, ac_mode="dense"), texts)
        probe_queries(run)


def put_pipeline_stages(run: Run, manifest: dict) -> None:
    stages = {s["stage"]: s["secs"] for s in manifest["stages"]}
    run.put("pipeline.routed_s", stages["02_routed"], "s")
    run.put("pipeline.aggregates_s", stages["03_aggregates"], "s")


def probe_transcript_layers(run: Run, df, matcher: CompiledMatcher, pas: float) -> None:
    """enrich, writers, aggregates and stream, each alone, on a
    transcript table; ``pas`` is the matcher pass over the same table."""
    spark = run.spark
    parsed = enrich(with_template_id(df, spark, matcher), role_dict(spark), tool_dict(spark))
    with run.span("enrich.pass"):
        parsed.filter(F.col("template_id").isNotNull()).count()
    enriched = run.tracer.duration("enrich.pass")
    run.put("enrich.s", enriched - pas, "s")

    with run.span("writers.route_and_write"):
        sinks = route_and_write(parsed, run.path("probe", "sinks"))
    with run.span("writers.sink_counts"):
        sink_counts(spark, sinks)
    route = run.tracer.duration("writers.route_and_write")
    counted = run.tracer.duration("writers.sink_counts")
    run.put("writers.route_s", route, "s")
    run.put("writers.sink_counts_s", counted, "s")
    # route_and_write re-runs scan, match and enrich in its first job
    run.put("writers.self_s", route - enriched + counted, "s")
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(run.path("probe", "sinks")):
        for fn in files:
            if fn.endswith(".parquet"):
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(root, fn))
    run.put("writers.bytes", nbytes, "bytes")
    run.put("writers.files", nfiles, "count")

    routed = read_sink(spark, sinks["by_role"], schema=parsed.schema)
    aggs = {"template_counts": lambda: template_counts(routed, salt_buckets=8),
            "conv_histogram": lambda: conv_histogram(routed, ERROR_TEMPLATE_IDS),
            "error_tallies": lambda: error_tallies(routed, ERROR_TEMPLATE_IDS)}
    agg_total = 0.0
    for name, build in aggs.items():
        with run.span(f"aggregates.{name}"):
            PARQUET.write(build(), run.path("probe", "aggs", name))
        agg_total += run.tracer.duration(f"aggregates.{name}")
        run.put(f"aggregates.{name}_s", run.tracer.duration(f"aggregates.{name}"), "s")
    run.put("aggregates.self_s", agg_total, "s")
    probe_stream(run)


def probe_induction(run: Run, df, matcher: CompiledMatcher, text_col: str) -> None:
    """``induce_templates`` on the phase-1 misses, then the rematch."""
    spark = run.spark
    unmatched = with_template_id(df, spark, matcher, text_col=text_col) \
        .filter(F.col("template_id").isNull())
    lines_in = unmatched.count()
    with run.span("induction.induce_templates"):
        new = induce_templates(spark, unmatched, matcher, text_col=text_col)
    grown = matcher.with_templates(new) if new else matcher
    with run.span("induction.rematch"):
        still = with_template_id(df, spark, grown, text_col=text_col) \
            .filter(F.col("template_id").isNull()).count()
    induce = run.tracer.duration("induction.induce_templates")
    run.put("induction.induce_s", induce, "s")
    run.put("induction.rematch_s", run.tracer.duration("induction.rematch"), "s")
    run.put("induction.self_s", induce, "s")
    run.put("induction.lines_in", lines_in, "count")
    run.put("induction.templates_out", len(new), "count")
    run.put("induction.recovered_pct",
            100.0 * (lines_in - still) / lines_in if lines_in else 100.0, "%")


def _event_template_counts(assignments) -> list[tuple]:
    return [(r[0], r[1], r[2]) for r in
            assignments.groupBy("event_id", "template_id").count().collect()]


class _CountingBox(MatcherBox):
    def __init__(self, matcher):
        super().__init__(matcher)
        self.swaps = 0

    def swap(self, matcher):
        self.swaps += 1
        super().swap(matcher)


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def probe_stream(run: Run) -> None:
    """Drain small transcript files one per micro-batch (closed loop)
    through ``route_stream`` with online induction, and read the
    per-batch timings from the query's progress."""
    spark = run.spark
    src = run.path("stream_in")
    synth_transcripts(spark, run.scale.stream_convs, seed=run.seed + 1) \
        .repartition(run.scale.stream_files).write.parquet(src)
    box = _CountingBox(CompiledMatcher(templates=POOL_TEMPLATES))
    with run.span("stream.route_stream"):
        q = route_stream(spark, file_transcript_stream(spark, src, max_files_per_trigger=1),
                         box, run.path("stream_out"), auto_induce=True,
                         induce_min_support=2, available_now=True)
        q.awaitTermination()
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]

    def med(*keys: str) -> float:
        return statistics.median(sum(p["durationMs"].get(k, 0) for k in keys) for p in prog)

    trig = [p["durationMs"]["triggerExecution"] for p in prog]
    starts = [_iso_ms(p["timestamp"]) for p in prog]
    gaps = [starts[i + 1] - starts[i] - trig[i] for i in range(len(prog) - 1)]
    run.put("stream.batches", len(prog), "count")
    run.put("stream.batch_p50_ms", statistics.median(trig), "ms")
    run.put("stream.batch_p75_ms", statistics.quantiles(trig, n=4)[2] if len(trig) > 1 else trig[0], "ms")
    run.put("stream.add_batch_ms", med("addBatch"), "ms")
    run.put("stream.planning_ms", med("queryPlanning"), "ms")
    run.put("stream.commit_ms", med("walCommit", "commitOffsets"), "ms")
    run.put("stream.latest_offset_ms", med("latestOffset"), "ms")
    run.put("stream.gap_ms", statistics.median(gaps) if gaps else 0.0, "ms")
    run.put("stream.swaps", box.swaps, "count")
    # every input turn lands in exactly one of the two epoch sinks
    n_in = spark.read.parquet(src).count()
    n_out = sum(spark.read.parquet(run.path("stream_out", s)).count()
                for s in ("matched", "unmatched")
                if os.path.isdir(run.path("stream_out", s)))
    run.attempted += 1
    if n_out != n_in:
        run.fail(f"stream sinks hold {n_out} turns, input {n_in}")


# --------------------------------------------------------------------------
# mixed_pool_match
# --------------------------------------------------------------------------

def mixed_input(run: Run) -> tuple[str, list[LogTemplate]]:
    """The 22 LogHub-style corpora interleaved into one table, and the
    union pool with each corpus's withheld slice removed.

    The union of every corpus at twice the run's size is built once per
    checkout and cached (building its plan alone takes ~8 s); the run's
    seed picks half of each corpus's lines and their interleaving."""
    lines = 2 * run.scale.mixed_lines_per_dataset
    specs = ultra_specs(lines) + adversarial_specs(lines)
    pool = []
    for di, spec in enumerate(specs):
        tmpls = make_templates(spec)
        for i, t in enumerate(tmpls[:spec.n_templates - spec.withheld]):
            pool.append(LogTemplate(1000 * (di + 1) + i + 1,
                                    loghub_template_to_regex(t), example=t))
    cache = os.path.join(run.cache, f"mixed-{lines}")
    if not os.path.isdir(cache):
        frames = [synth_corpus(run.spark, spec).select(
            F.concat(F.lit(spec.name + "/"), F.col("event_id")).alias("event_id"),
            "line_id", "line") for spec in specs]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        tmp = f"{cache}.tmp-{os.getpid()}"
        union.write.parquet(tmp)
        try:
            os.rename(tmp, cache)
        except OSError:  # another run cached it first
            shutil.rmtree(tmp)
    key = F.xxhash64(F.lit(run.seed), "event_id", "line_id")
    src = run.path("mixed")
    # interleave the corpora so every task sees all of them
    run.spark.read.parquet(cache).filter(F.pmod(key, F.lit(2)) == 0) \
        .repartition(2 * cpu_count(), key).write.parquet(src)
    return src, pool


def mixed_pool_match(run: Run) -> None:
    spark = run.spark
    src, pool = mixed_input(run)
    df = spark.read.parquet(src)
    n_rows = df.count()

    matcher = compile_matcher(run, pool)

    def rep(_i):
        rematched, enlarged, new = induce_and_rematch(spark, df, matcher, text_col="line")
        return rematched, enlarged, len(new), \
            rematched.filter(F.col("template_id").isNull()).count()

    warm, first = timed(lambda: rep("warm"))
    run.setup_s += warm

    last: list = []

    def check(res):
        last[:] = [res]
        _, _, n_new, n_unmatched = res
        # same input, same pool: every repetition induces the same set
        if (n_new, n_unmatched) != (first[2], first[3]):
            return [f"rep induced {n_new} templates / {n_unmatched} unmatched,"
                    f" warm-up {first[2]} / {first[3]}"]
        return []

    with MemSampler() as mem:
        walls = timed_reps(run, rep, check)
    put_e2e(run, walls, n_rows, mem)

    # once per run: accuracy and purity floors, and a sampled id check
    rematched, enlarged, _, _ = last[0]
    assigned = run.path("assigned")
    rematched.select("event_id", "line_id", "line", "template_id").write.parquet(assigned)
    assignments = spark.read.parquet(assigned)
    q = quality(_event_template_counts(assignments))
    problems = []
    if q["grouping_accuracy_pct"] <= ACCURACY_FLOOR_PCT:
        problems.append(f"grouping accuracy {q['grouping_accuracy_pct']:.2f}% <= floor")
    if q["template_purity_pct"] <= PURITY_FLOOR_PCT:
        problems.append(f"template purity {q['template_purity_pct']:.2f}% <= floor")
    sampled = sample_rows(run, assignments, "line", ("event_id", "line_id"))
    bad = sample_mismatches(sampled, enlarged)
    if bad:
        problems.append(f"{bad}/{len(sampled)} sampled template ids differ from match_series")
    if problems:
        run.fail("; ".join(problems))
    if run.tracer is None:
        return

    settle(run)
    with run.span("e2e.induce_and_rematch"):
        rep("traced")
    put_overhead(run, statistics.median(walls), run.tracer.duration("e2e.induce_and_rematch"))
    put_quality(run, q)

    with run.span("layers"):
        texts = driver_sample(run, df, "line")
        score_s = probe_templates(run, matcher, texts)
        probe_ac(run, matcher, texts)
        probe_matcher(run, df, matcher, "line", n_rows, score_s)
        probe_induction(run, df, matcher, "line")
        with run.span("aggregates.grouping_accuracy"):
            grouping_accuracy(assignments).collect()
        run.put("aggregates.grouping_accuracy_s",
                run.tracer.duration("aggregates.grouping_accuracy"), "s")
        probe_queries(run)
        # layers this workload does not call, probed on a quarter-size
        # transcript table of the pipeline workload's shape
        tsrc = run.path("transcripts")
        synth_transcripts(spark, run.scale.transcript_convs // 4, seed=run.seed) \
            .write.parquet(tsrc)
        tdf = spark.read.parquet(tsrc)
        tmatcher = CompiledMatcher(templates=POOL_TEMPLATES)
        put_pipeline_stages(run, run_pipeline(spark, tdf, tmatcher, run.path("probe", "pipeline"),
                                              resume=False, collect_partition_metrics=False))
        with run.span("matcher.transcript_pass"):
            with_template_id(tdf, spark, tmatcher).filter(F.col("template_id").isNotNull()).count()
        probe_transcript_layers(run, tdf, tmatcher, run.tracer.duration("matcher.transcript_pass"))


# --------------------------------------------------------------------------
# operator leaves (traced runs only)
# --------------------------------------------------------------------------

def probe_queries(run: Run) -> None:
    """A cold pass, then one timed pass, over the corpus leaves through
    ``queries_map()``; every result is checked against its pinned
    oracle digest."""
    qmap = queries_map()
    pins = corpus.load_pins()

    def run_query(name):
        df = qmap[name](run.spark, corpus.DATA_DIR)
        return df, df.collect()

    with run.span("query.cold_pass"):
        for name in run.scale.queries:
            run_query(name)
    settle(run)
    for name in run.scale.queries:
        run.attempted += 1
        try:
            with run.span(f"query.{name}"):
                df, rows = run_query(name)
            got = corpus.digest(df.columns, [tuple(r) for r in rows])
        except Exception as exc:  # a failed query is counted, not fatal
            run.fail(f"{name} raised {exc!r}")
            continue
        run.put(f"query.{name}_s", run.tracer.duration(f"query.{name}"), "s")
        if got != pins[name]:
            run.fail(f"{name}: {got} != pinned {pins[name]}")


WORKLOADS = {
    "pipeline_fanout": pipeline_fanout,
    "mixed_pool_match": mixed_pool_match,
}
