"""The three workloads. Each one makes its inputs from the seed, warms up,
runs timed iterations through the package's public entry points, and checks
every output against an independent reference.

One client, closed loop: the benchmark process runs one call after another.
"""

from __future__ import annotations

import shutil
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from . import checks, inputs

ROUND_STAGES = ("domains", "select", "fetch_parse", "rank_dedup", "children", "commit")


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: Path        # per-run scratch, removed at exit
    cache: checks.ResultCache
    spans: object        # trace.SpanRecorder
    jobs: object | None  # trace.JobCounter when tracing, else None

    def group(self, name: str):
        return self.jobs.group(name) if self.jobs is not None else nullcontext({})


@dataclass
class Iteration:
    wall_s: float
    items: int                      # URLs fetched / documents processed
    steps_s: list[float]            # per round / per operator call
    attempted: int                  # rounds or operator calls
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    groups: list[dict] = field(default_factory=list)  # job-group records
    detail: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    min_iterations = 1
    inp: inputs.PagesInput | None = None   # the crawl workloads' pages

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def make_inputs(self, out_dir: Path) -> None:  # timed as set-up, repeated
        raise NotImplementedError

    def prepare(self) -> None:             # timed as set-up, once
        pass

    def warm_up(self) -> None:             # timed as set-up, once
        pass

    def iterate(self, i: int) -> Iteration:
        raise NotImplementedError

    def finish(self, its: list[Iteration]) -> None:
        """Checks that need the whole run (references computed once per input
        hash); adds failures to ``its``."""

    def layers(self, its: list[Iteration]) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------


class MegaRound(Workload):
    """One politeness-unbounded ``run_round`` over a pre-seeded full frontier
    of the mega page shape: per-page work (fetch join, parse UDF, Arrow
    transfer, one merge touching every state bucket) dominates."""

    name = "mega_round"
    # the median of three rounds drops one slow round; the first round after
    # the warm-up is often the slow one (the JIT is still settling)
    min_iterations = 3

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        from nimbus_crawler_spark.config import CrawlConfig

        self.cfg = CrawlConfig(round_ms=3_600_000, max_depth=3)
        self.template = ctx.run_dir / "template"
        self.markers: list[list[dict]] = []

    def make_inputs(self, out_dir: Path) -> None:
        self.inp = inputs.make_pages(
            self.ctx.seed, str(out_dir), inputs.MEGA_HOSTS, inputs.MEGA_PAGES_PER_HOST,
            **inputs.MEGA_SHAPE,
        )

    def prepare(self) -> None:
        from nimbus_crawler_spark.plans.bench import seed_full_frontier
        from nimbus_crawler_spark.store import SnapshotStore

        spark = self.ctx.spark
        with self.ctx.spans.span("seed_full_frontier"):
            seed_full_frontier(
                spark, SnapshotStore(spark, str(self.template)), self.inp.pages_path, self.cfg
            )

    def _round(self, wh: Path, group: str):
        from nimbus_crawler_spark.plans.round import run_round
        from nimbus_crawler_spark.store import SnapshotStore

        spark = self.ctx.spark
        shutil.copytree(self.template, wh)
        store = SnapshotStore(spark, str(wh))
        pages = spark.read.parquet(self.inp.pages_path)
        with self.ctx.spans.span("run_round", group=group), self.ctx.group(group) as g:
            t0 = time.perf_counter()
            try:
                stats = run_round(spark, store, pages, self.cfg, 0, 0)
            except Exception:  # noqa: BLE001 - a failed round is counted, not fatal
                traceback.print_exc()
                stats = None
            wall = time.perf_counter() - t0
        return store, stats, wall, g

    def warm_up(self) -> None:
        store, _stats, _wall, _g = self._round(self.ctx.run_dir / "warmup", "warmup")
        store.destroy()

    def iterate(self, i: int) -> Iteration:
        store, stats, wall, g = self._round(self.ctx.run_dir / f"wh{i}", f"{self.name}#{i}")
        if stats is None:
            store.destroy()
            return Iteration(wall_s=wall, items=0, steps_s=[wall], attempted=1, failed=1,
                             problems=["run_round raised"], groups=[g], detail={"stage_secs": {}})
        results = [
            r.asDict()
            for r in store.read_appends("crawl_results")
            .select("crawl_seq", "url", "dup_content", "text")
            .collect()
        ]
        seq_of = {
            r["url"]: (r["depth"], r["seq"])
            for r in store.read("url_state").select("url", "depth", "seq").collect()
        }
        golden = {u: p["text"] for u, p in self.inp.pages.items()}
        problems = checks.check_round_output(results, seq_of, golden)
        if stats["fetched"] != len(results):
            problems.append(f"fetched={stats['fetched']} but {len(results)} result rows")
        from .trace import read_markers

        self.markers.append(read_markers(store.warehouse))
        store.destroy()
        return Iteration(
            wall_s=wall,
            items=stats["fetched"],
            steps_s=[wall],
            attempted=1,
            failed=1 if problems else 0,
            problems=problems,
            groups=[g],
            detail={"stage_secs": stats.get("stage_secs", {})},
        )

    def layers(self, its: list[Iteration]) -> dict[str, float]:
        from .trace import store_stats

        out = _round_layers(
            [it.wall_s for it in its],
            [it.detail["stage_secs"] for it in its],
            [(g.get("jobs", 0), g.get("stages", 0), g.get("tasks", 0)) for it in its for g in it.groups],
            rounds_per_group=1,
        )
        out.update(_store_layers([store_stats(m) for m in self.markers]))
        return out


class CrawlLoop(Workload):
    """``crawl()`` from seeds until the frontier is exhausted, on a small
    paced corpus: every round takes the politeness rank path and the fixed
    per-round cost (planning, checkpoints, robots discovery, commit)
    dominates."""

    name = "crawl_loop"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        from nimbus_crawler_spark.config import CrawlConfig

        self.cfg = CrawlConfig(round_ms=inputs.LOOP_ROUND_MS, max_depth=inputs.LOOP_MAX_DEPTH)
        self.outputs: list[dict] = []
        self.markers: list[list[dict]] = []

    def make_inputs(self, out_dir: Path) -> None:
        self.inp = inputs.make_pages(
            self.ctx.seed, str(out_dir), inputs.LOOP_HOSTS, inputs.LOOP_PAGES_PER_HOST,
            **inputs.LOOP_SHAPE,
        )

    def _crawl(self, wh: Path, group: str, max_rounds: int = 200):
        from nimbus_crawler_spark.plans.crawl import crawl

        spark = self.ctx.spark
        pages = spark.read.parquet(self.inp.pages_path)
        with self.ctx.spans.span("crawl", group=group), self.ctx.group(group) as g:
            t0 = time.perf_counter()
            summary = crawl(spark, str(wh), pages, self.inp.seeds_text, self.cfg, max_rounds=max_rounds)
            wall = time.perf_counter() - t0
        return summary, wall, g

    def warm_up(self) -> None:
        from nimbus_crawler_spark.store import SnapshotStore

        wh = self.ctx.run_dir / "warmup"
        self._crawl(wh, "warmup", max_rounds=1)
        SnapshotStore(self.ctx.spark, str(wh)).destroy()

    def iterate(self, i: int) -> Iteration:
        from nimbus_crawler_spark.store import SnapshotStore

        from .trace import read_markers

        wh = self.ctx.run_dir / f"wh{i}"
        summary, wall, g = self._crawl(wh, f"{self.name}#{i}")
        store = SnapshotStore(self.ctx.spark, str(wh))
        results = sorted(
            (r.asDict() for r in store.read_appends("crawl_results")
             .select("crawl_seq", "round", "url", "depth", "dup_content", "text").collect()),
            key=lambda r: r["crawl_seq"],
        )
        self.outputs.append({
            "order": [[r["crawl_seq"], r["round"], r["url"], r["depth"]] for r in results],
            "status": {r["url"]: r["status"] for r in store.read("url_state").select("url", "status").collect()},
            "text": {r["url"]: r["text"] for r in results if not r["dup_content"]},
        })
        markers = read_markers(wh)
        self.markers.append(markers)
        store.destroy()
        at = [m["committed_at"] for m in markers]
        return Iteration(
            wall_s=wall,
            items=summary.fetched_total,
            steps_s=[b - a for a, b in zip(at, at[1:])],
            attempted=summary.rounds_run,
            groups=[g],
            detail={
                "rounds": summary.rounds_run,
                "stage_secs": [s.get("stage_secs", {}) for s in summary.round_stats],
            },
        )

    def finish(self, its: list[Iteration]) -> None:
        expected = checks.crawl_expected(
            self.inp.pages, self.inp.seeds_text, self.cfg, self.inp.digest, self.ctx.cache
        )
        for it, actual in zip(its, self.outputs):
            it.problems += checks.compare_crawl(actual, expected)
            if it.problems:
                it.failed = it.attempted

    def layers(self, its: list[Iteration]) -> dict[str, float]:
        from .trace import store_stats

        out = _round_layers(
            [s for it in its for s in it.steps_s],
            [st for it in its for st in it.detail["stage_secs"]],
            [(g.get("jobs", 0), g.get("stages", 0), g.get("tasks", 0)) for it in its for g in it.groups],
            rounds_per_group=_median([it.detail["rounds"] for it in its]),
        )
        out.update(_store_layers([store_stats(m) for m in self.markers]))
        return out


class NearDup(Workload):
    """The five near-duplicate ``queries()`` entries over the seeded
    documents table, each forced by the ``_force`` digest: banded
    self-joins (``operators.textdedup``) and the connected-components loop
    (``operators.graph``). No crawl-engine work."""

    name = "near_dup"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.schemas: dict[str, object] = {}  # output schema per query

    def make_inputs(self, out_dir: Path) -> None:
        self.docs_dir = str(out_dir)
        self.docs_digest = inputs.make_documents(self.ctx.seed, self.docs_dir)

    def _pass(self, docs_dir: str, tag: str):
        spark = self.ctx.spark
        digests, steps, groups = {}, [], []
        for q in checks.NEAR_DUP_QUERIES:
            group = f"{tag}:{q}"
            with self.ctx.spans.span(f"op.{q}", group=group), self.ctx.group(group) as g:
                t0 = time.perf_counter()
                try:
                    df = self.queries[q](spark, docs_dir)
                    digests[q] = checks.force_digest(df)
                    self.schemas[q] = df.schema
                except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
                    traceback.print_exc()
                    digests[q] = None
                steps.append(time.perf_counter() - t0)
            groups.append(g)
        return digests, steps, groups

    def warm_up(self) -> None:
        warm = self.ctx.run_dir / "warmup_docs"
        inputs.make_documents(self.ctx.seed, str(warm), n_docs=inputs.DOCS_WARMUP_N)
        self._pass(str(warm), "warmup")

    def iterate(self, i: int) -> Iteration:
        digests, steps, groups = self._pass(self.docs_dir, f"{self.name}#{i}")
        return Iteration(
            wall_s=sum(steps),
            items=inputs.DOCS_N,
            steps_s=steps,
            attempted=len(steps),
            groups=groups,
            detail={"digests": digests, "steps": dict(zip(checks.NEAR_DUP_QUERIES, steps))},
        )

    def finish(self, its: list[Iteration]) -> None:
        if len(self.schemas) < len(checks.NEAR_DUP_QUERIES):  # some entry never ran
            for it in its:
                bad = [q for q, d in it.detail["digests"].items() if d is None]
                it.failed = len(bad)
                it.problems += [f"{q} raised" for q in bad]
            return
        expected = checks.near_dup_expected(
            self.ctx.spark, self.schemas, self.docs_dir, self.docs_digest,
            self.ctx.run_dir, self.ctx.cache,
        )
        for it in its:
            bad = checks.compare_digests(it.detail["digests"], expected)
            it.failed = len(bad)
            it.problems += [f"{q} digest differs from the reference" for q in bad]

    def layers(self, its: list[Iteration]) -> dict[str, float]:
        out: dict[str, float] = {}
        rows: dict[str, int] = {}
        for k, q in enumerate(checks.NEAR_DUP_QUERIES):
            out[f"operators.{q}.call_s"] = _median([it.detail["steps"][q] for it in its])
            out[f"operators.{q}.rows"] = rows[q] = (its[-1].detail["digests"][q] or [0])[0]
            out[f"operators.{q}.jobs"] = _median([it.groups[k].get("jobs", 0) for it in its])
        cands = rows["dedup_minhash_lsh"]
        out["operators.textdedup.minhash_verify_yield"] = (
            rows["dedup_minhash_verified"] / cands if cands else 0.0
        )
        return out


def _round_layers(round_walls, stage_secs, job_counts, rounds_per_group) -> dict[str, float]:
    out = {"plans.round.round_s_p50": _median(round_walls)}
    per = max(rounds_per_group, 1)
    for k, name in enumerate(("jobs", "stages", "tasks")):
        out[f"plans.round.{name}_per_round"] = _median([c[k] / per for c in job_counts])
    for stage in ROUND_STAGES:
        out[f"plans.round.{stage}_s"] = _median([s[stage] for s in stage_secs if stage in s])
    return out


def _store_layers(stats: list[dict]) -> dict[str, float]:
    keys = ("write_bytes_p50", "touched_buckets_p50", "compactions", "live_segments",
            "commit_spacing_s_p50")
    return {f"store.{k}": _median([s[k] for s in stats]) for k in keys}


WORKLOADS = {w.name: w for w in (MegaRound, CrawlLoop, NearDup)}
