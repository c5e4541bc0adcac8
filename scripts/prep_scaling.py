"""Tokens-tier N-vs-4N scaling protocol (axis-B counterpart of
bench_scaling.py): the training-prep permutation core (pack_sequences ->
assign_shards) on the SAME tokenized input at two parallelism levels in
separate capped JVMs; reports tokens/sec at both plus scaling efficiency.
Writes BENCH/PREP_SCALING.md (bench_scaling.py owns BENCH/BASELINE.md).

Usage: python scripts/prep_scaling.py [dataset] [repeats] [levels...]
"""

from __future__ import annotations

import json
import os
import sys

from bench_scaling import REPO, run_level


def main() -> None:
    dataset = sys.argv[1] if len(sys.argv) > 1 else "bench0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    levels = [int(x) for x in sys.argv[3:]] or [2, 8]

    sys.path.insert(0, REPO)
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    ensure_dataset(dataset)

    runs = {}
    for c in levels:
        try:
            runs[c] = run_level("prep_scaling_job.py", c, dataset, repeats)
            print(json.dumps(runs[c]))
        except Exception as ex:
            print(f"LEVEL {c} FAILED: {str(ex)[:500]}")
    levels = [c for c in levels if c in runs]
    if len(levels) < 2:
        raise SystemExit("need at least two successful levels")

    def eff(a: int, b: int) -> float:
        return round(
            (runs[b]["tokens_per_sec"] / runs[a]["tokens_per_sec"]) / (b / a), 3
        )

    pairs = [(levels[i], levels[i + 1]) for i in range(len(levels) - 1)]
    effs = {f"{a}->{b}": eff(a, b) for a, b in pairs}
    primary = pairs[0]
    e_primary = effs[f"{primary[0]}->{primary[1]}"]
    result = {
        "metric": "tokens/sec pack+shard throughput at multiple core counts",
        "dataset": dataset,
        "levels": runs,
        "scaling_efficiency": effs,
        "primary_pair": list(primary),
        "pass_0.8_gate": e_primary >= 0.8,
    }
    print(json.dumps(result, indent=2))

    n = runs[primary[0]]
    rows = "\n".join(
        f"| {c} | {r['warm_sec']} | {r['n_examples']:,} | {r['tokens_per_sec']:,} |"
        for c, r in runs.items()
    )
    raw = "\n".join(f"`{json.dumps(r)}`" for r in runs.values())
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PREP_SCALING.md"), "w") as fh:
        fh.write(
            f"""# BENCH/PREP_SCALING — tokens-tier two-parallelism protocol

The training-prep permutation core (`pack_sequences` -> `assign_shards`:
every token moves exactly once through the example-assembly exchange, the
shard window's exchange doubles as the write partitioning) on the SAME
tokenized input at multiple parallelism levels in separate JVMs, each capped
with -XX:ActiveProcessorCount as a faithful N-core executor analog — the
axis-B counterpart of the span-pipeline protocol in BENCH/BASELINE.md,
which also documents why the primary 4x pair stays below this box's
memory-bus ceiling. Warm time = min of {repeats} in-JVM repeats.

Dataset: `{dataset}` — {n['n_rows']:,} sequences / {n['n_tokens']:,} tokens
packed into {n['n_examples']:,} 512-token examples.

| cores | warm sec | examples | tokens/sec |
|---|---|---|---|
{rows}

**Primary N-vs-4N pair: {primary[0]} vs {primary[1]} cores.**
Scaling efficiency = rate({primary[1]}c) / ({primary[1] // primary[0]} x
rate({primary[0]}c)) = **{e_primary}**
(gate: >= 0.8 -> {"PASS" if e_primary >= 0.8 else "FAIL"})

Raw:
{raw}
"""
            + ANALYSIS
        )
    print("wrote BENCH/PREP_SCALING.md")


# Measured attribution for the sub-gate efficiency, kept with the protocol so
# a regenerated artifact carries the analysis (numbers from the 2026-08-17
# round-4 investigation; all runs min-of-2+ in separate capped JVMs).
ANALYSIS = """
## Attribution — why the permutation core sits below the 0.8 gate HERE

Measured, in order:

1. **The box's movement bandwidth is not the binding limit.** A pure-movement
   control (repartition the same tokenized corpus on doc_id + sum(size),
   one job, zero pack logic; bench0.1 = 154.4M tokens) scales 1->4 at
   **0.898** (6.766s -> 1.883s).
2. **The Python piece-cutting stage was the worst scaler and is gone.** The
   original Arrow-batched mapInPandas emit put ~2x corpus bytes through the
   JVM<->Python socket per run; it scaled 1->4 at ~0.58 and dominated cost.
   Rewriting the piece cut as pure JVM expressions (window cumsum over the
   range bucket + sequence/explode/slice) halved absolute time at every
   level (1c 235s -> 118s) — that rewrite is the shipped `pack_sequences`.
3. **What remains below the gate is the full-row shard exchange.** Stage
   decomposition on bench0.4 (min-of-2 per stage, separate JVMs):
   bounds+totals scans 24.0s -> 8.7s (eff 0.69); the offsets window
   53.6s -> 15.7s (0.85); full pack 62.6s -> 23.2s (0.67); pack+shards
   101.0s -> 44.5s (0.57). The `assign_shards` increment — an exchange +
   sort of the packed ~2 KB/row examples — is the worst scaler at
   38.4s -> 21.3s (**0.45**).
4. **Slimming the rank does not help, by measurement.** A variant that ranks
   md5 keys over an example_id-only projection and joins shard/shard_pos
   back was wall-time identical at 4c (39.3s vs 40.7s): the full rows must
   cross the exchange anyway to land in shard order, so the window
   formulation (whose exchange doubles as the write partitioning) is kept.

Reading for a real cluster: every 4x step adds 4x memory buses and shuffle
disks, so the full-row exchange tracks the 0.898 movement control rather
than this box's shared-bus 0.45-0.57. The north-rule GATE workload
(BASELINE.json metric: the decision pipeline) passes its 1->4 pair at 1.04
in BENCH/BASELINE.md; this artifact documents the tokens-tier permutation
core honestly instead of substituting a compute-dense proxy.
"""


if __name__ == "__main__":
    main()
