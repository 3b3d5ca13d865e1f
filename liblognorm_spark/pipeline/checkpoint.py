"""Manifest-based checkpoint/resume for the batch pipeline.

The input is split into chunks (hash of url modulo n_chunks — stable under
re-runs and independent of physical file layout).  A run processes the
chunks the manifest lacks as ONE wave: one Spark job that scans the input
once, computes every chunk in the wave, and writes them all with one
``pipeline.write_sinks(by=("chunk",))`` dynamic-overwrite write.  After the
wave's files are durably committed, each chunk id is appended to a JSON
manifest; a restarted job skips completed chunks, and a crash mid-wave is
safe because the retry overwrites exactly the wave's partition directories.
Total reads are O(input), not O(n_chunks * input) like a per-chunk filter
loop.

This is the batch analogue of Structured Streaming's checkpointLocation
(which streaming/stream.py uses directly) and satisfies the north rule's
"resumable from checkpoint with per-partition lineage".
"""

from __future__ import annotations

import json
import os
import time


class Manifest:
    def __init__(self, path: str):
        self.path = path
        self.state = {"completed": [], "started_at": None}
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    @property
    def completed(self) -> set[int]:
        return set(self.state["completed"])

    def mark(self, chunk_id: int, lineage: list[dict] | None = None) -> None:
        self.state["completed"].append(chunk_id)
        self.state.setdefault("lineage", {})[str(chunk_id)] = lineage or []
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f)
        os.replace(tmp, self.path)  # atomic publish


def run_resumable(spark, pages, out_dir: str, n_chunks: int = 8,
                  rulebase_text: str | None = None, fail_after: int | None = None):
    """Run the pipeline chunked with manifest resume (see module docstring).

    `fail_after` (testing): the wave is only the first N remaining chunks,
    and the run raises after committing them if chunks remain, simulating
    a crash at a deterministic manifest state.  Returns the manifest.
    Sinks land under out_dir/chunk=<id>/sink=<sink>/ with per-chunk
    partition lineage; the manifest's "format" is the sink format actually
    written."""
    from pyspark.sql import functions as F

    from liblognorm_spark.pipeline import pipeline as PL
    from liblognorm_spark.pipeline.metrics import partition_lineage

    os.makedirs(out_dir, exist_ok=True)
    man = Manifest(os.path.join(out_dir, "_manifest.json"))
    if man.state["started_at"] is None:
        man.state["started_at"] = time.time()

    remaining = [c for c in range(n_chunks) if c not in man.completed]
    wave = remaining[:fail_after]
    if wave:
        keyed = pages.withColumn("chunk", F.pmod(F.xxhash64("url"), F.lit(n_chunks)).cast("int"))
        parsed = PL.parse_stage(spark, keyed.filter(F.col("chunk").isin(wave)),
                                rulebase_text)
        # one scan per wave: cache the parsed wave so the sink write and the
        # lineage aggregation share it instead of re-parsing
        parsed = parsed.persist()
        try:
            routed = PL.route_stage(PL.enrich_stage(spark, parsed))
            man.state["format"] = PL.write_sinks(routed, out_dir, by=("chunk",))
            lineage_rows = partition_lineage(parsed, "chunk").collect()
        finally:
            parsed.unpersist()
        by_chunk: dict[int, list] = {c: [] for c in wave}
        for r in lineage_rows:
            d = r.asDict()
            by_chunk[d.pop("chunk")].append(d)
        for c in wave:
            man.mark(c, by_chunk[c])
    if len(wave) < len(remaining):
        raise RuntimeError(f"simulated failure after {len(wave)} chunks")
    return man
