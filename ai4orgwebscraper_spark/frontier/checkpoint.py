"""Checkpoint/resume: versioned table snapshots per round (SURVEY.md C8).

The reference has no resume story (closest analog: append-mode CSV,
reference web_scraper.py:59-62). Here every round writes its state and
output increment plus a manifest; a killed run resumes from the last
complete manifest bit-identically, because nothing in the engine
depends on wall clock or RNG (north rule).

Layout per round (``<dir>/round=<n>/``):
- ``frontier/`` — full state snapshot (what the next round needs);
- ``seen/``, ``fetch_log/``, ``documents/`` — ROUND INCREMENTS only
  (append-only; rewriting cumulative tables each round would be O(R^2)
  I/O — this mirrors Iceberg's append snapshot; the seen set is
  delta-structured in the engine too);
- ``manifest.json`` written LAST via atomic rename (the commit point; a
  crash mid-write leaves no manifest and the round replays).

Production shape: Iceberg table snapshots (append-only fetch_log,
snapshot-isolated frontier/seen). The Iceberg runtime jar is not in
this sandbox, so the same semantics are parquet directories + manifest.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

STATE_TABLES = ("frontier",)
INC_TABLES = ("seen", "fetch_log", "documents")


class TableFormat:
    """Storage seam for the snapshot layer (VERDICT r02 item 8): the
    engine only ever writes/reads whole table snapshots through this
    interface, so swapping parquet directories for Iceberg tables is a
    config change, not an engine change. Implementations must make
    `write` atomic-enough that `manifest.json` (written after all
    tables) remains the commit point."""

    def write(self, df: DataFrame, path: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        raise NotImplementedError


class ParquetSnapshotFormat(TableFormat):
    """Sandbox implementation: one parquet directory per (round, table)
    + a JSON manifest committed last via atomic rename — the same
    append-snapshot semantics an Iceberg catalog provides natively."""

    def write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    def read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        return spark.read.parquet(*paths)


DEFAULT_FORMAT = ParquetSnapshotFormat()


class CheckpointMismatch(RuntimeError):
    """The checkpoint directory disagrees with the resuming engine —
    different config fingerprint or a non-contiguous round chain.
    Silently unioning increments written under different parameters
    would continue the crawl with mixed semantics (ADVICE r01)."""


def save_round(
    base_dir: str,
    rnd: int,
    seq_counter: int,
    frontier: DataFrame,
    seen: DataFrame,
    fetch_log_inc: DataFrame,
    documents_inc: DataFrame,
    extra_manifest: dict | None = None,
    config_fingerprint: str | None = None,
    fmt: TableFormat = DEFAULT_FORMAT,
) -> None:
    rd = os.path.join(base_dir, f"round={rnd}")
    frames = dict(
        frontier=frontier, seen=seen, fetch_log=fetch_log_inc, documents=documents_inc
    )
    for name in STATE_TABLES + INC_TABLES:
        fmt.write(frames[name], os.path.join(rd, name))
    manifest = {
        "round": rnd,
        "seq_counter": seq_counter,
        "state_tables": list(STATE_TABLES),
        "increment_tables": list(INC_TABLES),
        "config_fingerprint": config_fingerprint,
    }
    if extra_manifest:
        manifest.update({k: v for k, v in extra_manifest.items() if v is not None})
    tmp = os.path.join(rd, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(rd, "manifest.json"))  # atomic commit point


def _complete_rounds(base_dir: str) -> list[int]:
    out = []
    for entry in os.listdir(base_dir):
        if entry.startswith("round=") and os.path.exists(
            os.path.join(base_dir, entry, "manifest.json")
        ):
            out.append(int(entry.split("=", 1)[1]))
    return sorted(out)


def load_latest(
    spark: SparkSession,
    base_dir: str,
    config_fingerprint: str | None = None,
    allow_fingerprint_mismatch: bool = False,
    fmt: TableFormat = DEFAULT_FORMAT,
):
    """Return (frontier, seen, fetch_log_cum, documents_cum, next_round,
    seq_counter) from the newest complete snapshot chain, or None.

    Fails LOUDLY (CheckpointMismatch) on a stale/foreign directory:
    the committed rounds must be the contiguous chain 0..last (a gap
    means a missing increment — the cumulative unions would silently
    drop it), and every manifest's config_fingerprint must equal the
    resuming engine's (resuming under different max_depth/rps/host
    config would mix semantics mid-crawl). Pre-fingerprint manifests
    (None recorded) are accepted only when the caller passes None —
    BREAKING for pre-fingerprint checkpoint dirs, which otherwise
    force a full recrawl; operators who accept mixed-config semantics
    can opt in with ``allow_fingerprint_mismatch=True`` (ADVICE r02),
    which skips ONLY the fingerprint check, never the round-contiguity
    check (a gapped chain is wrong data, not a judgment call)."""
    if not base_dir or not os.path.isdir(base_dir):
        return None
    rounds = _complete_rounds(base_dir)
    if not rounds:
        return None
    if rounds != list(range(rounds[0], rounds[-1] + 1)) or rounds[0] != 0:
        raise CheckpointMismatch(
            f"non-contiguous committed rounds {rounds} in {base_dir!r}; "
            "refusing to resume from a partial chain"
        )
    for r in rounds:
        with open(os.path.join(base_dir, f"round={r}", "manifest.json")) as f:
            m = json.load(f)
        if (
            m.get("config_fingerprint") != config_fingerprint
            and not allow_fingerprint_mismatch
        ):
            raise CheckpointMismatch(
                f"round {r} was written with config fingerprint "
                f"{m.get('config_fingerprint')!r}, resuming engine has "
                f"{config_fingerprint!r} ({base_dir!r})"
            )
    last = rounds[-1]
    with open(os.path.join(base_dir, f"round={last}", "manifest.json")) as f:
        manifest = json.load(f)
    rd = os.path.join(base_dir, f"round={last}")
    frontier = fmt.read(spark, [os.path.join(rd, "frontier")])
    # cumulative views = union of every committed round increment
    seen = fmt.read(spark, [os.path.join(base_dir, f"round={r}", "seen") for r in rounds])
    fetch_log = fmt.read(
        spark, [os.path.join(base_dir, f"round={r}", "fetch_log") for r in rounds]
    )
    documents = fmt.read(
        spark, [os.path.join(base_dir, f"round={r}", "documents") for r in rounds]
    )
    return (frontier, seen, fetch_log, documents, manifest["round"] + 1, manifest["seq_counter"])
