#!/usr/bin/env python3
"""Quiet-run bench companion — CHUNKED fresh-JVM edition (round 11).

The round-10 judging showed a monolithic all-keys run inflates keys that
execute late in the fixed order through in-run JVM/cache contention
(e_kmeans_train read 3.39 s in-run vs 2.06 s isolated, code unchanged).
Keys therefore now run in chunks of CHUNK (default 20, global alphabetical
order preserved within and across chunks so per-key predecessors stay
stable across rounds), each chunk in a FRESH sbt/Spark JVM, repeated
`runs` times; the recorded value is the per-key MEDIAN across runs (each
run itself the median of graft.Bench's 3 in-JVM passes). `run_position`
records every key's (chunk, index) so any residual order effect is
auditable from the artifact.

Modes (recorded in the artifact's `mode` field, round 13+):
  full      — sweep the whole inventory (default).
  sentinel  — `--keys a,b,c --carry prior.json`: measure only the named
              (changed) keys plus the fixed sentinel set, carry every
              other key's median forward from the prior artifact
              (marked in `carried_keys`). The budget option of
              tools/BENCH_PROTOCOL.md for rounds touching few keys.

Usage:
  python3 tools/quiet_bench.py <sfDir> <outJson> [runs] [chunk]
      [--keys k1,k2,...] [--carry prior.json]

Dev tool only — not part of the shipped library. Do NOT run concurrently
with any other Spark JVM (tests, Verify, review tooling): contention
inflates numbers 3x (documented in memory). See tools/BENCH_PROTOCOL.md
for the per-round measurement protocol.
"""
import json
import os
import statistics
import subprocess
import sys

# one representative per cost family — always re-measured in sentinel
# mode so a repo-wide regression (build flags, session config, fixture)
# cannot hide behind carried numbers
SENTINELS = ["e_jaccard_prefix", "e_pca_power", "e_kmeans_train",
             "e_knn_graph", "e_bpe_train", "q_daily_agg", "e_datasheet"]

# chunks below this size get SPARK_GRAFT_WARMUPS=3: a short key list
# under-amortizes JIT/codegen across the single default warmup pass and
# every key in the chunk reads high (round-15 small_chunk_note)
SMALL_CHUNK_KEYS = 12


def sbt_bench(env_extra: dict) -> dict:
    out = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        env={**os.environ, **env_extra},
        capture_output=True, text=True, timeout=2400)
    for line in out.stdout.splitlines():
        if '"metric"' in line:
            return json.loads(line[line.index('{'):])
    sys.exit(f"no bench JSON in output:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main(sf_dir: str, out_json: str, runs: int = 3, chunk: int = 20,
         changed_csv: str = "", carry_json: str = "") -> None:
    listing = sbt_bench({"SPARK_GRAFT_LIST": "1"})
    all_keys = sorted(listing["keys"])
    hk = set(listing["harness_keys"])

    carried: dict = {}
    if changed_csv:
        if not carry_json:
            sys.exit("--keys requires --carry <prior artifact> for the untouched keys")
        changed = [k for k in changed_csv.split(",") if k]
        unknown = sorted(set(changed) - set(all_keys))
        if unknown:
            sys.exit(f"--keys names unknown keys: {unknown}")
        measured = sorted(set(changed) | set(SENTINELS))
        prior_doc = json.load(open(carry_json))
        prior = prior_doc["queries"]
        # a prior artifact written by a FAILED run carries times-to-failure
        # for its error keys — refuse to launder those into clean medians
        tainted = sorted(set(prior_doc.get("errors", {})) - set(measured))
        if tainted:
            sys.exit(f"prior artifact has error keys that would be carried "
                     f"as clean latencies: {tainted} — re-measure them "
                     f"(add to --keys) or carry from a clean artifact")
        missing = sorted(set(all_keys) - set(measured) - set(prior))
        if missing:
            sys.exit(f"prior artifact lacks keys to carry: {missing}")
        carried = {k: prior[k] for k in all_keys if k not in measured}
        mode = "sentinel"
    else:
        measured = all_keys
        mode = "full"

    chunks = [measured[i:i + chunk] for i in range(0, len(measured), chunk)]
    med: dict = {}
    pos: dict = {}
    errors: dict = {}
    warmup_errors: dict = {}
    compiled: dict = {}
    raised_warmups: dict = {}
    for ci, ck in enumerate(chunks):
        env = {"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "32",
               "SPARK_GRAFT_KEYS": ",".join(ck)}
        # small chunks under-amortize JIT/codegen across the single warmup
        # pass (round-15 adjudication: the final 9-key sentinel chunk
        # drifted all sentinels +0.3-0.8s) — raise in-JVM warmups to 3,
        # the protocol's documented fix, and record it in the artifact
        if len(ck) < SMALL_CHUNK_KEYS:
            env["SPARK_GRAFT_WARMUPS"] = "3"
            raised_warmups[str(ci)] = {"keys": len(ck), "warmups": 3}
        outs = [sbt_bench(env) for _ in range(runs)]
        samples = [o["queries"] for o in outs]
        # a key that threw in ANY measured pass has a bogus median — carry
        # the error into the artifact and fail the run at the end
        for o in outs:
            errors.update(o.get("errors", {}))
            warmup_errors.update(o.get("warmup_errors", {}))
        for j, k in enumerate(ck):
            med[k] = statistics.median(s[k] for s in samples)
            compiled[k] = statistics.median(o.get("compiled_classes", {}).get(k, 0) for o in outs)
            pos[k] = {"chunk": ci, "index": j}
        done = sum(len(c) for c in chunks[:ci + 1])
        print(f"chunk {ci + 1}/{len(chunks)}: {done}/{len(measured)} keys, "
              f"chunk total {sum(med[k] for k in ck):.1f}s", flush=True)

    full = {**carried, **med}
    result = {
        "metric": "total_quiet",
        "value": sum(full.values()),
        "unit": "sec",
        "mode": mode,
        "estimator": f"per-key median of {runs} fresh-JVM chunk runs "
                     f"(chunk={chunk}; each run medians 3 in-JVM passes)",
        "runs": runs,
        "chunk_size": chunk,
        # harness keys re-execute their constituent operators by design —
        # keep the two group totals separate so regressions stay attributable
        "total_harness": sum(v for k, v in full.items() if k in hk),
        "total_operators": sum(v for k, v in full.items() if k not in hk),
        "harness_keys": sorted(hk),
        "queries": full,
        "errors": errors,
        "warmup_errors": warmup_errors,
        "compiled_classes": compiled,
        "run_position": pos,
        "raised_warmups": raised_warmups,
        "sf": sf_dir,
    }
    if mode == "sentinel":
        result["measured_keys"] = measured
        result["sentinel_keys"] = SENTINELS
        result["carried_keys"] = sorted(carried)
        result["carried_from"] = carry_json
    with open(out_json, "w") as f:
        json.dump(result, f, indent=1)
    print(f"{out_json}: mode={mode}, total {result['value']:.1f}s over "
          f"{len(full)} queries ({len(med)} measured, {len(carried)} carried; "
          f"harness {result['total_harness']:.1f}s / operators "
          f"{result['total_operators']:.1f}s)")
    if errors:
        sys.exit(f"FAIL: {len(errors)} key(s) threw in a measured pass "
                 f"(their medians are times-to-failure, not latencies): "
                 f"{errors}")


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sf_dir")
    ap.add_argument("out_json")
    ap.add_argument("runs", nargs="?", type=int, default=3)
    ap.add_argument("chunk", nargs="?", type=int, default=20)
    ap.add_argument("--keys", default="",
                    help="comma-separated changed keys (sentinel mode)")
    ap.add_argument("--carry", default="",
                    help="prior artifact to carry untouched keys from")
    ns = ap.parse_args()
    if ns.keys and not ns.keys.strip(","):
        ap.error("--keys must name at least one key")
    main(ns.sf_dir, ns.out_json, ns.runs, ns.chunk, ns.keys, ns.carry)
