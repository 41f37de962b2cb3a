"""The two benchmark workloads: one crawl operation each, its output
check, and the traced run's standalone layer re-runs.

Operation (timed as ``crawl_s``): ``CrawlEngine.run`` on a freshly
generated seed list, then ``export_results`` of fetch_log, documents
and seen. The check reads the exported tables back, so it sees exactly
what a user of the export would.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks
import inputs
from tracer import NullTracer
from ai4orgwebscraper_spark import schemas
from ai4orgwebscraper_spark.frontier import bloom, checkpoint, cuckoo
from ai4orgwebscraper_spark.frontier.engine import CrawlEngine
from ai4orgwebscraper_spark.frontier.fetch import fetch_arrow_fn
from ai4orgwebscraper_spark.functions import urls as U
from ai4orgwebscraper_spark.operators import crawl_analytics as CA
from ai4orgwebscraper_spark.plans import with_global_seq
from ai4orgwebscraper_spark.sources.seeds import export_results
from ai4orgwebscraper_spark.streaming.bfs_stream import stream_seed_bfs

EXPORTED = ("fetch_log", "documents", "seen")


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of this
    process and every live descendant: the JVM, the PySpark daemon and
    its workers. Time the hypervisor steals from the VM is not in it."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid is field 4; utime, stime, cutime, cstime are fields 14-17
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def read_export(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, name, "parquet"))


class Workload:
    """One crawl configuration; ``small`` shrinks it for the self-test."""

    name = ""
    layers: frozenset = frozenset()

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer, small: bool = False):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.small = small
        self.traced = not isinstance(tracer, NullTracer)

    # --- the timed operation ------------------------------------------
    def engine(self, ckpt_dir: str) -> CrawlEngine:
        raise NotImplementedError

    def seeds(self, k: int) -> DataFrame:
        return inputs.seed_frame(self.spark, f"{self.name}|{self.seed}|{k}", self.n_seeds)

    def op(self, k: int, label: str) -> dict:
        """Run operation ``k``; returns its timings and output locations."""
        t = self.tracer
        out_dir = os.path.join(self.work, f"export-{label}")
        ckpt_dir = os.path.join(self.work, f"ckpt-{label}")
        seeds = self.seeds(k)
        eng = self.engine(ckpt_dir)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with t.span("op"):
            with t.span("engine.run"):
                out = eng.run(seeds)
            for name in EXPORTED:
                with t.span(f"export.{name}"):
                    export_results(getattr(out, name), os.path.join(out_dir, name))
        crawl_s = time.perf_counter() - t0
        crawl_cpu_s = tree_cpu_s() - c0
        if self.traced:
            # the analytics need the link graph; exported outside crawl_s
            export_results(
                out.outlinks.select("url_hash", "href"), os.path.join(out_dir, "outlinks")
            )
        eng.close()
        fetched = read_export(self.spark, out_dir, "fetch_log").count()
        return {
            "k": k,
            "crawl_s": crawl_s,
            "crawl_cpu_s": crawl_cpu_s,
            "rounds": int(out.metrics["rounds"]),
            "fetched": fetched,
            "out_dir": out_dir,
            "ckpt_dir": ckpt_dir,
            "fingerprint": eng.config_fingerprint,
        }

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    # --- traced run: standalone layer entry points ----------------------
    def layer_metrics(self, res: dict) -> dict:
        """Re-run each layer this workload uses on the traced op's own
        intermediate inputs, one span per layer call."""
        spark, t, m = self.spark, self.tracer, {}
        fetch_log = read_export(spark, res["out_dir"], "fetch_log")
        seen = read_export(spark, res["out_dir"], "seen")

        # urls: canonicalize + key + host over the op's raw seeds
        seeds = self.seeds(res["k"])
        with t.span("urls.canon"):
            canon = (
                seeds.select("seed_rank", U.canonicalize_col(F.col("url")).alias("url"))
                .filter(F.col("url").isNotNull())
                .select(
                    "seed_rank",
                    U.url_hash_col(F.col("url")).alias("url_hash"),
                    "url",
                    U.host_col(F.col("url")).alias("host"),
                )
                .filter(F.col("host").isNotNull() & (F.col("host") != ""))
                .localCheckpoint(eager=True)
            )
        m["urls.rows_in"] = seeds.count()
        m["urls.rows_dropped"] = m["urls.rows_in"] - canon.count()

        # global_seq: the engine's dense numbering on the op's row count
        pins: list = []
        with t.span("global_seq"):
            r = self._global_seq(canon, fetch_log, pins).agg(
                F.count("*").alias("n"), F.max("seq").alias("hi")
            ).collect()[0]
        for p in pins:
            p.unpersist()
        m["global_seq.rows"] = r["n"]

        # fetch: mapInArrow(fetch_arrow_fn) over the op's admitted rows
        admitted = fetch_log.select(
            "seq", "url_hash", "url", "host", "depth",
            F.col("seq").alias("seed_rank"), "attempts", "fetched_at_ms",
        )
        hosts = spark.createDataFrame(self.hosts(), schema=schemas.HOSTS).select(
            "host", "auth_required", "session_token"
        )
        admitted = admitted.join(F.broadcast(hosts), "host", "left").localCheckpoint(eager=True)
        n_parts = 2 * spark.sparkContext.defaultParallelism
        with t.span("fetch"):
            r = (
                admitted.repartition(n_parts)
                .mapInArrow(fetch_arrow_fn, schema=schemas.FETCH_RESULT)
                .agg(
                    F.count("*").alias("n"),
                    F.count(F.when(F.col("status") == 200, 1)).alias("ok"),
                    F.sum(F.coalesce(F.size("spans"), F.lit(0))).alias("spans"),
                )
                .collect()[0]
            )
        m["fetch.rows"], m["fetch.spans"] = r["n"], r["spans"]
        m["fetch.ok_ratio"] = r["ok"] / max(r["n"], 1)

        # engine: counts from the op's outputs
        s = seen.agg(F.count("*").alias("n"), F.sum("multiplicity").alias("mult")).collect()[0]
        m["engine.rounds"], m["engine.fetched"] = res["rounds"], res["fetched"]
        m["engine.seen_rows"] = s["n"]
        m["engine.offer_dup_ratio"] = s["mult"] / max(s["n"], 1)

        if "bloom" in self.layers:
            self._seen_filters(canon, fetch_log, res["out_dir"], m)
        if "checkpoint" in self.layers:
            self._checkpoint(res, m)

        # export: re-export the op's materialized tables
        with t.span("export"):
            for name in EXPORTED:
                export_results(
                    read_export(spark, res["out_dir"], name),
                    os.path.join(self.work, "reexport", name),
                )
        m["export.bytes"] = sum(
            tree_bytes(os.path.join(res["out_dir"], n)) for n in EXPORTED
        )
        return m

    def _global_seq(self, canon: DataFrame, fetch_log: DataFrame, pins: list) -> DataFrame:
        raise NotImplementedError

    def hosts(self) -> list[dict]:
        raise NotImplementedError

    def _seen_filters(self, canon: DataFrame, fetch_log: DataFrame, out_dir: str, m: dict) -> None:
        """Bloom and cuckoo prefilters on the same inputs, as in round 0
        of the crawl: the filter holds the seed keys, the candidates are
        the distinct URLs the seeds' pages offer."""
        t = self.tracer
        state = canon.select("url_hash").distinct().localCheckpoint(eager=True)
        parents = (
            fetch_log.filter(F.col("depth") < self.MAX_DEPTH)
            .select("url_hash", "host")
            .dropDuplicates(["url_hash"])
        )
        child = U.canonicalize_col(U.resolve_outlink_col(F.col("host"), F.col("href")))
        cands = (
            read_export(self.spark, out_dir, "outlinks")
            .join(parents, "url_hash")
            .select(U.url_hash_col(child).alias("url_hash"))
            .filter(F.col("url_hash").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_state, n_cands = state.count(), cands.count()
        m["bloom.candidates"] = n_cands
        for mod, tag in ((bloom, "bloom"), (cuckoo, "cuckoo")):
            per_shard = max(64, n_state * 3 // (2 * mod.DEFAULT_SHARDS))
            with t.span(f"{tag}.build"):
                shards = mod.build_shards(state, expected_per_shard=per_shard).localCheckpoint(eager=True)
            with t.span(f"{tag}.test"):
                flagged = (
                    mod.prefilter_new(cands, [shards])
                    .agg(F.count(F.when(F.col("__maybe_seen"), 1)).alias("n"))
                    .collect()[0]["n"]
                )
            m[f"{tag}.flagged_ratio"] = flagged / max(n_cands, 1)

    def _checkpoint(self, res: dict, m: dict) -> None:
        """Re-save every round the op checkpointed, then load it back."""
        spark, t = self.spark, self.tracer
        src, dst = res["ckpt_dir"], os.path.join(self.work, "ckpt-resave")
        rounds = sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(src) if d.startswith("round=")
        )
        for r in rounds:
            rd = os.path.join(src, f"round={r}")
            with open(os.path.join(rd, "manifest.json")) as fh:
                manifest = json.load(fh)
            tables = {n: spark.read.parquet(os.path.join(rd, n)) for n in ("frontier", "seen", "fetch_log", "documents")}
            with t.span("checkpoint.save"):
                checkpoint.save_round(
                    dst, r, manifest["seq_counter"], tables["frontier"], tables["seen"],
                    tables["fetch_log"], tables["documents"],
                    config_fingerprint=res["fingerprint"],
                )
        with t.span("checkpoint.load"):
            state = checkpoint.load_latest(spark, dst, res["fingerprint"])
            for df in state[:4]:
                df.count()
        m["checkpoint.bytes"] = tree_bytes(src)

    # --- traced run: analytics over the exported crawl ------------------
    def analytics(self, res: dict) -> list[str]:
        spark, t = self.spark, self.tracer
        fl = read_export(spark, res["out_dir"], "fetch_log")
        docs = read_export(spark, res["out_dir"], "documents")
        links = read_export(spark, res["out_dir"], "outlinks")
        out = {}
        runs = (
            ("word_topk", lambda: CA.word_topk(docs).collect()),
            ("media_alt_coverage", lambda: CA.media_alt_coverage(docs).collect()),
            ("link_domain_topk", lambda: CA.link_domain_topk(fl, links).collect()),
            ("internal_external_split", lambda: CA.internal_external_split(fl, links).collect()),
            ("status_breakdown", lambda: CA.status_breakdown(fl).collect()),
            (
                "spans_dedup",
                lambda: CA.spans_dedup(docs)
                .agg(F.count("*"), F.sum(F.size("spans")))
                .collect(),
            ),
        )
        for name, fn in runs:
            with t.span(f"analytics.{name}"):
                out[name] = fn()
        return checks.check_status_breakdown(out["status_breakdown"], fl)


class RefBulk(Workload):
    """Reference-parity crawl (one round, duplicates refetched) of a
    large messy seed list: canonicalize -> global seq -> salted Arrow
    fetch -> export. Bypasses the round loop, prefilter, checkpoint and
    stream."""

    name = "ref_bulk"
    layers = frozenset({"urls", "global_seq", "fetch", "engine", "export", "analytics"})
    PREFIX, SPAN_DOCS = 5_000, 500

    @property
    def n_seeds(self) -> int:
        return 2_000 if self.small else 50_000

    def engine(self, ckpt_dir: str) -> CrawlEngine:
        return CrawlEngine(self.spark, reference_mode=True)

    def hosts(self) -> list[dict]:
        return []

    def check(self, res: dict) -> list[str]:
        raw = inputs.raw_seeds(self.seeds(res["k"]))
        return checks.check_reference(
            read_export(self.spark, res["out_dir"], "fetch_log"),
            read_export(self.spark, res["out_dir"], "documents"),
            raw, self.PREFIX, self.SPAN_DOCS,
        )

    def _global_seq(self, canon, fetch_log, pins):
        # the reference path numbers the spark.range-ordered seeds
        # without a range shuffle
        return with_global_seq(canon, ["seed_rank"], assume_sorted=True, pin_registry=pins)


class BfsDedupCkpt(Workload):
    """Scale-mode BFS to depth 1 with the Bloom prefilter forced on and
    a checkpoint written every round, under default_hosts() politeness
    (robots, crawl-delay spacing, host13 401s) scaled so no budget
    defers a URL; max_rounds=2 fixes the round count (seeds, then their
    outlinks plus the seeds' 403 retries)."""

    name = "bfs_dedup_ckpt"
    layers = frozenset(
        {"urls", "global_seq", "fetch", "engine", "bloom", "cuckoo", "checkpoint",
         "export", "analytics", "stream"}
    )
    MAX_DEPTH, MAX_ROUNDS = 1, 2
    STREAM_WAVES, STREAM_MAX_ROUNDS = 2, 30

    @property
    def n_seeds(self) -> int:
        return 40 if self.small else 300

    @property
    def stream_wave_seeds(self) -> int:
        return 4 if self.small else 8

    def hosts(self) -> list[dict]:
        # 96 rps and a 1/32 s hot-host delay: 320+ URLs per host and
        # round, so no budget defers a URL of this workload
        return inputs.polite_hosts(32.0)

    def engine(self, ckpt_dir: str) -> CrawlEngine:
        return CrawlEngine(
            self.spark, hosts=self.hosts(), max_depth=self.MAX_DEPTH,
            max_rounds=self.MAX_ROUNDS, use_bloom_prefilter=True, checkpoint_dir=ckpt_dir,
        )

    def check(self, res: dict) -> list[str]:
        return checks.check_bfs(
            read_export(self.spark, res["out_dir"], "fetch_log"),
            read_export(self.spark, res["out_dir"], "seen"),
            read_export(self.spark, res["out_dir"], "documents"),
            inputs.raw_seeds(self.seeds(res["k"])),
            hosts=self.hosts(), max_depth=self.MAX_DEPTH, max_rounds=self.MAX_ROUNDS,
        )

    def _global_seq(self, canon, fetch_log, pins):
        # the BFS path numbers each round's admitted rows by
        # (priority, seed_rank) with a range shuffle; re-run per round
        out = None
        for (rnd,) in fetch_log.select("round").distinct().orderBy("round").collect():
            part = with_global_seq(
                fetch_log.filter(F.col("round") == rnd).select(
                    "url_hash", F.col("depth").cast("long").alias("priority"), "seq"
                ),
                ["priority", "seq"], pin_registry=pins,
            ).localCheckpoint(eager=True)
            out = part if out is None else out.unionByName(part)
        return out

    def stream(self, m: dict) -> list[str]:
        """stream_seed_bfs over seed-file waves sharing one checkpoint
        and output dir; the next file is dropped only after the
        previous wave committed."""
        spark, t = self.spark, self.tracer
        n = self.stream_wave_seeds
        allseeds = inputs.raw_seeds(
            inputs.seed_frame(spark, f"{self.name}|{self.seed}|stream", n * self.STREAM_WAVES)
        )
        waves = [allseeds[i * n:(i + 1) * n] for i in range(self.STREAM_WAVES)]
        base = os.path.join(self.work, "stream")
        seed_dir, out_dir = os.path.join(base, "seeds"), os.path.join(base, "out")
        os.makedirs(seed_dir)
        kwargs = dict(hosts=inputs.wide_hosts(), max_depth=self.MAX_DEPTH, max_rounds=self.STREAM_MAX_ROUNDS)
        got = None
        for i, wave in enumerate(waves):
            with open(os.path.join(seed_dir, f"wave{i:03d}.txt"), "w", encoding="utf-8") as fh:
                fh.write("\n".join(wave) + "\n")
            with t.span(f"stream.wave_s.{i}"):
                got = stream_seed_bfs(
                    spark, seed_dir, checkpoint_dir=os.path.join(base, "query"),
                    out_dir=out_dir, **kwargs,
                )
        m["stream.committed_bytes"] = tree_bytes(out_dir)
        fetched = {r["url"] for r in got.select("url").collect()}
        return checks.check_stream(fetched, waves, **kwargs)


WORKLOADS = {w.name: w for w in (RefBulk, BfsDedupCkpt)}

