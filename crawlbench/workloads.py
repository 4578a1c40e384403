"""The two workloads and the per-layer probes.

``crawl_polite``: a BSP crawl of ROUNDS rounds over the staged page table
with the program's robots rules (hot hosts 40 urls per round, others 200,
one denied host per platform), from a seeded third of the content urls.

``extract_batch``: one pass over the seed's quarter of the two-copy pool —
text kernel on every html, ``parse_round`` on every page, both written as
parquet, then exact and MinHash near-duplicate dedup of the content text,
both written.

Each workload exposes ``setup`` (untimed), ``measure`` (whole operations
until ``seconds`` have passed, at least one), ``windows`` (the timed
intervals), ``check`` (untimed, independent) and ``layers`` (traced runs
only). The first operation of a process runs cold: its first round (crawl)
or a pass over a small slice (batch) is the untimed warm-up.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

from crawlbench import checks, corpus
from crawlbench import trace as T

ROUNDS = 2
NEAR_DUP_THRESHOLD = 0.8


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def _lineage():
    """Constant frontier-lineage columns parse_round expects."""
    from pyspark.sql import functions as F

    return [
        F.lit(0).alias("priority"), F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("keyword"), F.lit(None).cast("int").alias("page"),
        F.lit(0).alias("item_idx"), F.lit(0).alias("cursor_seq"),
    ]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    def __init__(self, spark, root: str, run_dir: str, seed: int, tracer: T.Tracer | None):
        self.spark = spark
        self.root = root
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.stage = corpus.staged_dir(root)
        self.py4j: T.Py4jCounter | None = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


# ---------------------------------------------------------------------------
class CrawlPolite:
    name = "crawl_polite"

    def __init__(self, rounds: int = ROUNDS):
        self.rounds = rounds
        # round 0 of each crawl is the warm-up; a one-round crawl times it
        self.warm = 1 if rounds > 1 else 0

    def setup(self, ctx: Ctx) -> None:
        from mediacrawler_spark import synth

        spark = ctx.spark
        self.pages = spark.read.parquet(os.path.join(ctx.stage, "pages"))
        seeds_pdf = corpus.crawl_seeds_pdf(ctx.stage, ctx.seed)
        self.seeds_rows = seeds_pdf.to_dict("records")
        self.seeds = spark.createDataFrame(seeds_pdf, "url string, priority int, keyword string")
        self.robots = synth.build_robots(spark)
        self.runs: list[dict] = []

    def _one_crawl(self, ctx: Ctx, ckpt: str) -> dict:
        from mediacrawler_spark.operators import scheduler
        from mediacrawler_spark.plans.crawl import CrawlEngine

        marks: list[float] = []
        py4j: list[int] = []
        select_round = scheduler.select_round

        def timed_select(*a, **kw):
            marks.append(time.time())
            if ctx.py4j:
                py4j.append(ctx.py4j.n)
            return select_round(*a, **kw)

        scheduler.select_round = timed_select
        try:
            eng = CrawlEngine(ctx.spark, self.pages, self.robots, checkpoint_dir=ckpt)
            t0 = time.time()
            with ctx.span("plans.crawl.run"):
                res = eng.run(self.seeds, max_rounds=self.rounds)
            t1 = time.time()
            if ctx.py4j:
                py4j.append(ctx.py4j.n)
        finally:
            scheduler.select_round = select_round
        bounds = marks + [t1]
        print(f"[crawlbench] crawl of {res.rounds} rounds in {t1 - t0:.2f}s, rounds "
              + " ".join(f"{b - a:.2f}s" for a, b in zip(bounds, bounds[1:])),
              file=sys.stderr, flush=True)
        return {"ckpt": ckpt, "t0": t0, "t1": t1, "rounds": res.rounds, "marks": marks,
                "py4j_marks": py4j, "round_s": [b - a for a, b in zip(bounds, bounds[1:])],
                "window": (bounds[self.warm], t1)}

    def measure(self, ctx: Ctx, seconds: float) -> None:
        start = time.time()
        while not self.runs or time.time() - start < seconds:
            ckpt = os.path.join(ctx.run_dir, f"crawl{len(self.runs)}")
            self.runs.append(self._one_crawl(ctx, ckpt))
        self.windows = [r["window"] for r in self.runs]

    def check(self, ctx: Ctx) -> tuple[list[str], int, int, dict]:
        self.robots_rows = [r.asDict() for r in self.robots.collect()]
        problems, attempted, failed = [], 0, 0
        round_s, urls, rows, state = [], [], [], []
        for r in self.runs:
            if r["rounds"] != self.rounds:
                problems.append(f"crawl ran {r['rounds']} rounds, expected {self.rounds}")
            p, ops = checks.check_crawl(r["ckpt"], os.path.join(ctx.stage, "pages"),
                                        self.seeds_rows, self.robots_rows, self.rounds)
            problems += p
            attempted += ops["attempted"]
            failed += ops["failed"]
            r["counts"] = checks.crawl_counts(r["ckpt"])
            c = checks.crawl_counts(r["ckpt"], from_round=self.warm)
            wall = r["window"][1] - r["window"][0]
            round_s += r["round_s"][self.warm:]
            urls.append(c["seen"] / wall)
            rows.append((c["content"] + c["comments"] + c["tieba_notes"] + c["zhihu_comments"]) / wall)
            size, r["files"] = _dir_bytes(r["ckpt"])
            state.append(size / 1e6)
        metrics = {
            "items_per_s": statistics.median(urls),
            "step_p50_s": statistics.median(round_s),
            "rows_out_per_s": statistics.median(rows),
            "state_mb": statistics.median(state),
        }
        return problems, attempted, failed, metrics

    def layers(self, ctx: Ctx, log: dict) -> dict:
        """Per-round layer metrics of the traced crawl(s)."""
        out: dict[str, list] = {k: [] for k in (
            "driver", "py4j", "jobs", "tasks", "files", "write", "select_job", "sched",
            "hosts_at_budget", "denied")}
        budget = {r["host"]: r["max_per_round"] for r in self.robots_rows}
        writes = ctx.tracer.named("plans.crawl.write_deltas")
        for r in self.runs:
            bounds = r["marks"] + [r["t1"]]
            py4j = r["py4j_marks"]
            for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
                if i < self.warm:
                    continue
                js = T.jobs_within(log, a, b)
                covered = T.covered_seconds([(j["start"], j["end"] or b) for j in js], a, b)
                out["driver"].append((b - a) - covered)
                out["jobs"].append(len(js))
                ids = {j["id"] for j in js}
                out["tasks"].append(sum(1 for t in log["tasks"] if t["job"] in ids))
                if js:
                    out["select_job"].append((js[0]["end"] or b) - js[0]["start"])
                if len(py4j) > i + 1:
                    out["py4j"].append(py4j[i + 1] - py4j[i])
                out["write"].append(sum(s["end"] - s["start"] for s in writes if a <= s["start"] < b))
            out["files"].append(r["files"] / max(r["rounds"], 1))
            m = r["counts"]["metrics"]
            for rid in range(self.warm, r["rounds"]):
                rm = [x for x in m if x[0] == rid]
                out["sched"].append(sum(x[2] for x in rm))
                out["hosts_at_budget"].append(sum(1 for x in rm if x[2] >= budget.get(x[1], 200)))
            out["denied"].append(r["counts"]["denied"])
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "crawl.driver_s_per_round": med(out["driver"]),
            "crawl.py4j_calls_per_round": med(out["py4j"]),
            "crawl.jobs_per_round": med(out["jobs"]),
            "crawl.tasks_per_round": med(out["tasks"]),
            "crawl.files_written_per_round": med(out["files"]),
            "crawl.write_s_per_round": med(out["write"]),
            "scheduler.select_job_s": med(out["select_job"]),
            "scheduler.scheduled_per_round": med(out["sched"]),
            "scheduler.hosts_at_budget": med(out["hosts_at_budget"]),
            "scheduler.denied": med(out["denied"]),
        }


# ---------------------------------------------------------------------------
class ExtractBatch:
    name = "extract_batch"

    def setup(self, ctx: Ctx) -> None:
        self.pool_dir = os.path.join(ctx.stage, "pool")
        pool = ctx.spark.read.parquet(self.pool_dir)
        self.sel = pool.filter(corpus.pool_share_filter(ctx.seed))
        self.passes: list[dict] = []
        # warm-up: the same pass over a 1/64 slice disjoint from the quarter
        self._one_pass(ctx, pool.filter(corpus.pool_share_filter(ctx.seed, 64, 1)),
                       os.path.join(ctx.run_dir, "warmup"))

    def _one_pass(self, ctx: Ctx, sel, out: str) -> dict:
        from pyspark.sql import functions as F

        from mediacrawler_spark.functions.text import extract_text_udf
        from mediacrawler_spark.operators import dedup as D
        from mediacrawler_spark.operators import extract as X
        from mediacrawler_spark.session import release_persisted

        t0 = time.time()
        fetched = sel.select(
            "url", "host", "html", "kind", "doc_id",
            extract_text_udf(F.col("html")).alias("text"), *_lineage(),
        ).persist()
        with ctx.span("functions.text.write"):
            fetched.select("url", "text").write.parquet(os.path.join(out, "text"))
        with ctx.span("operators.extract.write"):
            X.parse_round(fetched).write.parquet(os.path.join(out, "parsed"))
        content = fetched.filter(F.col("kind") == "content").select("doc_id", "text")
        with ctx.span("operators.dedup.exact"):
            D.exact_dedup_groups(content).write.parquet(os.path.join(out, "exact"))
        with ctx.span("operators.dedup.minhash"):
            (D.minhash_near_dups(content, threshold=NEAR_DUP_THRESHOLD)
             .write.parquet(os.path.join(out, "near")))
        t1 = time.time()
        fetched.unpersist()
        release_persisted()
        return {"out": out, "window": (t0, t1)}

    def measure(self, ctx: Ctx, seconds: float) -> None:
        start = time.time()
        while not self.passes or time.time() - start < seconds:
            out = os.path.join(ctx.run_dir, f"batch{len(self.passes)}")
            self.passes.append(self._one_pass(ctx, self.sel, out))
        self.windows = [p["window"] for p in self.passes]

    def check(self, ctx: Ctx) -> tuple[list[str], int, int, dict]:
        import duckdb

        self.n_selected = self.sel.count()
        problems, attempted, failed = [], 0, 0
        walls, rows, state = [], [], []
        con = duckdb.connect()
        for p in self.passes:
            pr, ops = checks.check_batch(p["out"], self.pool_dir, self.n_selected,
                                         NEAR_DUP_THRESHOLD)
            problems += pr
            attempted += ops["attempted"]
            failed += ops["failed"]
            n_out = sum(
                con.execute("SELECT count(*) FROM read_parquet(?)",
                            [os.path.join(p["out"], t, "*.parquet")]).fetchone()[0]
                for t in ("text", "parsed", "exact", "near"))
            wall = p["window"][1] - p["window"][0]
            walls.append(wall)
            rows.append(n_out / wall)
            state.append(_dir_bytes(p["out"])[0] / 1e6)
        metrics = {
            "items_per_s": self.n_selected / statistics.median(walls),
            "step_p50_s": statistics.median(walls),
            "rows_out_per_s": statistics.median(rows),
            "state_mb": statistics.median(state),
        }
        return problems, attempted, failed, metrics

    def layers(self, ctx: Ctx) -> dict:
        """Dedup spans of the timed passes (the warm-up pass is left out)."""
        a, b = self.windows[0][0], self.windows[-1][1]
        med = lambda name: statistics.median(  # noqa: E731
            [s["end"] - s["start"] for s in ctx.tracer.named(name) if a <= s["start"] <= b])
        return {"dedup.exact_s": med("operators.dedup.exact"),
                "dedup.minhash_s": med("operators.dedup.minhash")}


WORKLOADS = {w.name: w for w in (CrawlPolite, ExtractBatch)}


# ---------------------------------------------------------------------------
# per-layer probes: fixed inputs from the staged page table, timed alone
def probes(ctx: Ctx, with_dedup: bool) -> tuple[dict, list[str]]:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F

    from mediacrawler_spark import synth
    from mediacrawler_spark.functions.text import extract_text_udf
    from mediacrawler_spark.operators import dedup as D
    from mediacrawler_spark.operators import extract as X
    from mediacrawler_spark.operators import seen as S
    from mediacrawler_spark.session import release_persisted

    spark, out, problems = ctx.spark, {}, []
    pages_dir = os.path.join(ctx.stage, "pages")
    pages = spark.read.parquet(pages_dir)
    html = ds.dataset(pages_dir, format="parquet").to_table(columns=["html"]).column(0)
    n_pages, html_mb = len(html), pc.sum(pc.binary_length(html)).as_py() / 1e6

    def timed(name, fn):
        with ctx.span(name):
            t = time.time()
            fn()
            return time.time() - t

    out["text.kernel_mb_per_s"] = html_mb / timed(
        "probe.text", lambda: _noop(pages.select(extract_text_udf(F.col("html")))))
    fetched = pages.select("url", "host", "html", "text", *_lineage())
    out["extract.parse_pages_per_s"] = n_pages / timed(
        "probe.extract", lambda: _noop(X.parse_round(fetched)))
    docs = spark.createDataFrame(corpus.documents_pdf().head(200))
    out["synth.corpus_s"] = timed(
        "probe.synth", lambda: _noop(synth.build_pages(spark, None, documents=docs)))

    # seen: half of the page urls are "seen"; candidates are all of them
    urls = pages.select("url").persist()
    half = F.pmod(F.xxhash64(F.lit(7), F.col("url")), F.lit(2))
    seen = urls.filter(half == 0).persist()
    unseen = urls.filter(half == 1).persist()
    n_seen, n_unseen = seen.count(), unseen.count()
    part = F.pmod(F.xxhash64(F.lit(11), F.col("url")), F.lit(2))
    cap = max(n_seen // 8, 1)
    blooms = []

    def build():
        a = S.ShardedBloom.build(seen.filter(part == 0), expected_per_shard=cap)
        b = S.ShardedBloom.build(seen.filter(part == 1), expected_per_shard=cap)
        blooms.append(a.merge(b))

    out["seen.bloom_build_s"] = timed("probe.seen.bloom_build", build)
    counts = {}

    def dedup(name, df):
        counts[name] = df.count()

    t_exact = timed("probe.seen.exact", lambda: dedup("exact", S.unseen_exact(urls, seen)))
    t_bloom = timed("probe.seen.bloom", lambda: dedup(
        "bloom", S.unseen_bloom_prefiltered(urls, seen, bloom=blooms[0])))
    out["seen.exact_dedup_rows_per_s"] = n_pages / t_exact
    out["seen.bloom_dedup_rows_per_s"] = n_pages / t_bloom
    if not counts["exact"] == counts["bloom"] == n_unseen:
        problems.append(f"seen probe: exact {counts['exact']}, bloom {counts['bloom']}, "
                        f"expected {n_unseen} unseen urls")
    # filter positives among truly unseen urls: checked against themselves,
    # every positive is dropped and every negative kept
    negatives = S.unseen_bloom_prefiltered(unseen, unseen, bloom=blooms[0]).count()
    fp = n_unseen - negatives
    out["seen.bloom_false_positive_share"] = fp / (n_seen + fp)
    for df in (urls, seen, unseen):
        df.unpersist()

    if with_dedup:
        content = pages.filter(F.col("kind") == "content").select("doc_id", "text")
        out["dedup.exact_s"] = timed(
            "operators.dedup.exact", lambda: _noop(D.exact_dedup_groups(content)))
        out["dedup.minhash_s"] = timed(
            "operators.dedup.minhash",
            lambda: _noop(D.minhash_near_dups(content, threshold=NEAR_DUP_THRESHOLD)))
        release_persisted()
    return out, problems
