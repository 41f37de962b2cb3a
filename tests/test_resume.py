"""Checkpoint/resume bit-identity (north rule; SURVEY.md C8):
kill after round k, resume from snapshot, final tables equal the
uninterrupted run exactly.
"""

from __future__ import annotations

from ai4orgwebscraper_spark.frontier.engine import CrawlEngine
from ai4orgwebscraper_spark.sources.corpus import default_hosts, seed_urls


def _kwargs():
    return dict(hosts=default_hosts(), max_depth=1, round_seconds=10.0)


def _log_tuples(out):
    return [
        (r["seq"], r["round"], r["url"], r["status"], r["fetched_at_ms"])
        for r in out.fetch_log.orderBy("seq").collect()
    ]


def _seen_tuples(out):
    return sorted(
        (r["url_hash"], r["first_seen_round"], r["multiplicity"])
        for r in out.seen.collect()
    )


def test_kill_resume_bit_identical(spark, tmp_path):
    seeds = seed_urls(40)

    # uninterrupted run (no checkpointing)
    full_engine = CrawlEngine(spark, max_rounds=50, **_kwargs())
    full = full_engine.run(full_engine.seeds_from_list(seeds))
    want_log, want_seen = _log_tuples(full), _seen_tuples(full)

    # "killed" run: stop after 2 rounds, snapshots on disk
    ckpt = str(tmp_path / "ckpt")
    killed = CrawlEngine(spark, max_rounds=2, checkpoint_dir=ckpt, **_kwargs())
    partial = killed.run(killed.seeds_from_list(seeds))
    assert len(_log_tuples(partial)) < len(want_log)

    # resume from the snapshot; seeds argument must be ignored
    resumed_engine = CrawlEngine(spark, max_rounds=50, checkpoint_dir=ckpt, **_kwargs())
    resumed = resumed_engine.run(resumed_engine.seeds_from_list(seeds))

    assert _log_tuples(resumed) == want_log
    assert _seen_tuples(resumed) == want_seen
    docs_full = {r["doc_id"] for r in full.documents.collect()}
    docs_resumed = {r["doc_id"] for r in resumed.documents.collect()}
    assert docs_resumed == docs_full


def test_incomplete_snapshot_is_ignored(spark, tmp_path):
    """A round dir without manifest.json (crash mid-write) must not be
    loaded."""
    import os

    from ai4orgwebscraper_spark.frontier import checkpoint as ckpt_mod

    base = str(tmp_path / "ckpt2")
    os.makedirs(os.path.join(base, "round=5"))
    assert ckpt_mod.load_latest(spark, base) is None


def test_resume_rejects_mismatched_config(spark, tmp_path):
    """Resuming a checkpoint under different engine parameters must
    fail loudly, never silently union increments written under other
    semantics (ADVICE r01)."""
    import pytest

    from ai4orgwebscraper_spark.frontier.checkpoint import CheckpointMismatch

    seeds = seed_urls(20)
    ckpt = str(tmp_path / "ckpt3")
    eng = CrawlEngine(spark, max_rounds=2, checkpoint_dir=ckpt, **_kwargs())
    eng.run(eng.seeds_from_list(seeds))

    other = CrawlEngine(
        spark, max_rounds=50, checkpoint_dir=ckpt,
        hosts=default_hosts(), max_depth=2, round_seconds=10.0,  # depth differs
    )
    with pytest.raises(CheckpointMismatch):
        other.run(other.seeds_from_list(seeds))
    # extending max_rounds alone is a legitimate resume (stop condition,
    # not semantics) — must NOT raise
    cont = CrawlEngine(spark, max_rounds=3, checkpoint_dir=ckpt, **_kwargs())
    cont.run(cont.seeds_from_list(seeds))


def test_fingerprint_mismatch_override(spark, tmp_path):
    """`allow_fingerprint_mismatch=True` is the documented escape hatch
    for old/foreign checkpoints (ADVICE r02): the fingerprint check is
    skipped, the round-contiguity check is NOT."""
    from ai4orgwebscraper_spark.frontier import checkpoint as ckpt_mod

    seeds = seed_urls(20)
    ckpt = str(tmp_path / "ckpt5")
    eng = CrawlEngine(spark, max_rounds=2, checkpoint_dir=ckpt, **_kwargs())
    eng.run(eng.seeds_from_list(seeds))
    loaded = ckpt_mod.load_latest(
        spark, ckpt, config_fingerprint="something-else",
        allow_fingerprint_mismatch=True,
    )
    assert loaded is not None
    frontier, seen, fetch_log, documents, next_round, seq = loaded
    assert next_round >= 1 and seq > 0
    assert fetch_log.count() > 0


def test_snapshots_flow_through_tableformat_seam(spark, tmp_path):
    """The TableFormat seam (Iceberg swap point): a counting wrapper
    around ParquetSnapshotFormat must see every snapshot write and the
    resumed run must stay bit-identical through it."""
    from ai4orgwebscraper_spark.frontier import checkpoint as ckpt_mod

    class CountingFormat(ckpt_mod.ParquetSnapshotFormat):
        writes = 0
        reads = 0

        def write(self, df, path):
            CountingFormat.writes += 1
            super().write(df, path)

        def read(self, spark, paths):
            CountingFormat.reads += 1
            return super().read(spark, paths)

    seeds = seed_urls(20)
    ckpt = str(tmp_path / "ckpt6")
    eng = CrawlEngine(spark, max_rounds=2, checkpoint_dir=ckpt, **_kwargs())
    out = eng.run(eng.seeds_from_list(seeds))
    want = _log_tuples(out)

    fp = eng.config_fingerprint
    fmt = CountingFormat()
    # save/load a synthetic extra round through the seam directly
    loaded = ckpt_mod.load_latest(spark, ckpt, config_fingerprint=fp, fmt=fmt)
    assert loaded is not None and CountingFormat.reads == 4  # 4 tables
    frontier, seen, fetch_log, documents, next_round, seq = loaded
    assert _log_tuples_df(fetch_log) == [t for t in want if t[1] < next_round]


def _log_tuples_df(fetch_log):
    return [
        (r["seq"], r["round"], r["url"], r["status"], r["fetched_at_ms"])
        for r in fetch_log.orderBy("seq").collect()
    ]


def test_resume_rejects_round_gap(spark, tmp_path):
    """A committed-round chain with a hole (manually pruned dir, torn
    storage) must refuse to resume."""
    import os
    import shutil

    import pytest

    from ai4orgwebscraper_spark.frontier.checkpoint import CheckpointMismatch

    seeds = seed_urls(20)
    ckpt = str(tmp_path / "ckpt4")
    eng = CrawlEngine(spark, max_rounds=3, checkpoint_dir=ckpt, **_kwargs())
    eng.run(eng.seeds_from_list(seeds))
    rounds = sorted(d for d in os.listdir(ckpt) if d.startswith("round="))
    assert len(rounds) >= 3
    shutil.rmtree(os.path.join(ckpt, rounds[1]))  # punch a hole
    again = CrawlEngine(spark, max_rounds=5, checkpoint_dir=ckpt, **_kwargs())
    with pytest.raises(CheckpointMismatch):
        again.run(again.seeds_from_list(seeds))
