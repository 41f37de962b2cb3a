"""Streaming BFS crawl: the SCALE path's streaming twin (VERDICT r04
next #4). Seed files land in a directory; each admitted micro-batch
runs one full multi-round BFS continuation — politeness budgets, robots
filtering, canonical-URL dedup, outlink enqueue, optional rank-weighted
priority — against the durable cumulative state of all previous
triggers via ``CrawlEngine.run(carry=...)``.

Equivalence contract (tests/test_bfs_stream.py): the stream-fed
cumulative fetch_log covers EXACTLY the URL set a single batch BFS
over the concatenated seed files fetches, with identical per-URL
status/title/spans (the fetch is a pure function of the URL) —
depth-cut subtrees of previously fetched nodes are re-opened by the
engine's carry relaxation at any ``max_depth`` (see
``CrawlEngine.run`` for the two documented deviations: relaxed nodes
keep their original deeper fetch depth, and first-offer-wins under
budget deferral). Scheduling columns (seq, fetched_at_ms, round)
reflect arrival order — seeds that stream in later are crawled later,
which IS the deployment semantics.

Durability shape (same as seed_stream.py, ADVICE r04): every trigger
overwrites its own ``batch-<id>`` dir with the CUMULATIVE outputs
(fetch_log / documents / seen / outlinks + a metrics.json commit
marker, written last), so the carry state is always reconstructed from
disk — never from process memory. A checkpointed restart reads the
latest committed dir and continues; an at-least-once foreachBatch
replay excludes its own dir when loading carry, recomputes the same
continuation, and replaces its output. At 10^10-row scale the
cumulative rewrite per trigger becomes an Iceberg append of the run's
DELTA (the engine already computes rounds incrementally); the parquet
dir-per-batch here is the same snapshot shape with the simplest
possible commit protocol.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ai4orgwebscraper_spark.streaming.seed_stream import seed_file_stream

_TABLES = ("fetch_log", "documents", "seen", "outlinks", "fetch_depths")


def _committed_dirs(out_dir: str, exclude: str | None = None) -> list[str]:
    """Batch dirs whose metrics.json commit marker exists (written
    after all four parquet tables), oldest first."""
    if not os.path.isdir(out_dir):
        return []
    out = []
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("batch-") or d == exclude:
            continue
        full = os.path.join(out_dir, d)
        if os.path.isfile(os.path.join(full, "metrics.json")):
            out.append(full)
    return out


def _load_carry(spark: SparkSession, out_dir: str, exclude: str):
    """Reconstruct the carry CrawlOutputs from the LATEST committed
    batch dir (each dir holds the cumulative state, so one dir
    suffices). Returns None when no prior trigger committed."""
    from ai4orgwebscraper_spark.frontier.engine import CrawlOutputs

    dirs = _committed_dirs(out_dir, exclude=exclude)
    if not dirs:
        return None
    last = dirs[-1]
    with open(os.path.join(last, "metrics.json")) as fh:
        metrics = json.load(fh)
    return CrawlOutputs(
        fetch_log=spark.read.parquet(os.path.join(last, "fetch_log")),
        documents=spark.read.parquet(os.path.join(last, "documents")),
        seen=spark.read.parquet(os.path.join(last, "seen")),
        metrics=metrics,
        outlinks=spark.read.parquet(os.path.join(last, "outlinks")),
        # incrementally maintained best-depth state — the continuation
        # reads this small table instead of re-agging the whole log
        fetch_depths=spark.read.parquet(os.path.join(last, "fetch_depths")),
    )


def stream_seed_bfs(
    spark: SparkSession,
    seed_dir: str,
    checkpoint_dir: str | None = None,
    out_dir: str | None = None,
    engine_factory=None,
    **engine_kwargs,
):
    """Drain the seed directory; each micro-batch of admitted seeds
    runs one BFS continuation over the cumulative crawl state.

    ``engine_factory`` builds a fresh scale-mode engine per trigger
    (so rank_scores / hosts / politeness knobs flow through); default
    is ``CrawlEngine(spark, reference_mode=False, **engine_kwargs)``.
    The factory must NOT set checkpoint_dir — carry is the resume
    channel here, and the engine rejects both at once.

    Returns the cumulative fetch_log as a batch DataFrame.
    """
    import tempfile

    from ai4orgwebscraper_spark.frontier.engine import CrawlEngine

    if engine_factory is None:
        def engine_factory():
            return CrawlEngine(spark, reference_mode=False, **engine_kwargs)

    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix=f"seed_bfs_{uuid.uuid4().hex[:8]}_")
    # NO stateful dropDuplicates — the engine's seen anti-join is the
    # dedup authority (a re-streamed seed must still count toward seen
    # multiplicity, exactly as a duplicate seed does in batch mode)
    canon = seed_file_stream(spark, seed_dir)

    def _bfs_continuation(batch_df: DataFrame, batch_id: int) -> None:
        # admitted seed increment: reference seed-list scale (the crawl
        # itself stays distributed); sorted => deterministic seed_rank
        urls = sorted(r["url"] for r in batch_df.select("url").collect())
        if not urls:
            return
        tag = f"batch-{batch_id:08d}"
        carry = _load_carry(spark, out_dir, exclude=tag)
        engine = engine_factory()
        try:
            out = engine.run(engine.seeds_from_list(urls), carry=carry)
            dest = os.path.join(out_dir, tag)
            # commit protocol: tables first, marker last — a replayed
            # trigger overwrites all of them before re-marking
            marker = os.path.join(dest, "metrics.json")
            if os.path.isfile(marker):
                os.remove(marker)
            outlinks = out.outlinks
            if outlinks is None:
                outlinks = spark.createDataFrame(
                    [], "url_hash string, host string, href string"
                )
            for name, df in zip(
                _TABLES,
                (out.fetch_log, out.documents, out.seen, outlinks,
                 out.fetch_depths),
            ):
                df.write.mode("overwrite").parquet(os.path.join(dest, name))
            with open(marker, "w") as fh:
                json.dump(
                    {
                        "rounds": out.metrics.get("rounds", 0),
                        "fetched": out.metrics.get("fetched", 0),
                    },
                    fh,
                )
        finally:
            close = getattr(engine, "close", None)
            if close:
                close()

    writer = canon.writeStream.foreachBatch(_bfs_continuation).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        # a failing foreachBatch must not leak a live query into
        # spark.streams (the exception still propagates)
        q.stop()
    dirs = _committed_dirs(out_dir)
    if not dirs:
        from ai4orgwebscraper_spark import schemas

        return spark.createDataFrame([], schemas.FETCH_LOG)
    return spark.read.parquet(os.path.join(dirs[-1], "fetch_log"))
