#!/usr/bin/env python3
"""Driver for graft.ops.CheckpointOomProbe — the minimal reproduction of the
round-25 third-decade local-checkpoint OOM, and the verification harness for
CheckpointChain's round storage (reliable checkpoint files by default, at
every frame size).

Runs four arms in child JVMs at a constrained heap (default 2g, 200M-row
(id, label) round frames, 3 rounds — sized so each of the 32 concurrent
tasks unrolls a ~100 MB SER block into a 64 MB/slot heap):

  blockmanager  the probe's own round loop storing every round
                localCheckpoint(true, MEMORY_AND_DISK_SER) — the pre-fix
                local path. EXPECTED rc != 0: raw
                java.lang.OutOfMemoryError inside
                MemoryStore.putIteratorAsBytes -> SerializedValuesHolder ->
                ChunkedByteBufferOutputStream.allocateNewChunkIfNeeded
                (the actual allocation site, pinned by this probe: storage
                accounting admits bytes up to the unified pool, but 32
                concurrent unroll chunk allocations plus non-storage heap
                raw-OOM before accounting intervenes).
  disk          spark.graft.iter.resilient=false — DISK_ONLY block-manager
                rounds (uncompressed, ~42 bytes a row, two generations on
                local disk at the peak). Recorded, not gated: whether it
                fits depends on the box's free local disk.
  default       CheckpointChain with no overrides — reliable checkpoint
                files per round; the run must complete.
  reliable      spark.graft.iter.resilient=true — the timing control; the
                run must complete.

Prints one JSON line (each arm's rc, completion and seconds, plus
default/reliable) and exits 0 iff every gated arm matches expectations.
Usage:
  python3 tools/checkpoint_oom_probe.py [heap=2g] [rows=200000000]
"""
import json
import os
import subprocess
import sys


def run_arm(mode: str, heap: str, rows: str) -> tuple[int, dict | None]:
    # inherit the environment (COURSIER_MODE=offline etc.), override the knobs
    env = dict(os.environ, SPARK_DRIVER_MEM=heap, PROBE_ROWS=rows)
    try:
        p = subprocess.run(
            ["sbt", "-batch", f"runMain graft.ops.CheckpointOomProbe {mode}"],
            cwd="/root/repo", env=env,
            capture_output=True, text=True, timeout=1800)
    except subprocess.TimeoutExpired:
        # a wedged arm (an OOM that hangs instead of exiting — plausible for
        # the blockmanager reproduction) counts as not-completed, so the
        # matrix verdict still prints instead of crashing the runner
        print(f"[probe] {mode}: TIMEOUT after 1800s (arm killed)",
              file=sys.stderr)
        return -1, None
    rec = None
    for line in p.stdout.splitlines():
        line = line.removeprefix("[info] ").strip()
        if line.startswith('{"probe":"checkpoint_oom"'):
            rec = json.loads(line)
    return p.returncode, rec


def main() -> None:
    heap = sys.argv[1] if len(sys.argv) > 1 else "2g"
    rows = sys.argv[2] if len(sys.argv) > 2 else "200000000"
    results = {}
    ok = True
    # want_completion None: recorded, not gated
    for mode, want_completion in [("blockmanager", False), ("disk", None),
                                  ("default", True), ("reliable", True)]:
        rc, rec = run_arm(mode, heap, rows)
        completed = bool(rc == 0 and rec is not None and rec.get("completed"))
        results[mode] = {"rc": rc, "completed": completed,
                         "secs": rec.get("secs") if rec else None}
        arm_ok = want_completion is None or completed == want_completion
        ok = ok and arm_ok
        print(f"[probe] {mode}: rc={rc} completed={completed} "
              f"(want completed={want_completion}) -> {'OK' if arm_ok else 'FAIL'}",
              file=sys.stderr)
    d, r = results["default"]["secs"], results["reliable"]["secs"]
    ratio = round(d / r, 2) if d and r else None
    print(json.dumps({"probe": "checkpoint_oom_matrix", "heap": heap,
                      "rows": int(rows), "arms": results,
                      "default_over_reliable": ratio, "pass": ok}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
