"""Selection-tier N-vs-4N scaling protocol: DSIR importance scoring +
top-k select (the broadcast Arrow kernel leg) on the SAME corpus at two
parallelism levels in separate capped JVMs; reports docs/sec at both
plus scaling efficiency. Writes BENCH/SELECTION_SCALING.md
(bench_scaling.py owns BASELINE.md; prep_scaling.py owns
PREP_SCALING.md).

Usage: python scripts/selection_scaling.py [dataset] [repeats] [levels...]
"""

from __future__ import annotations

import json
import os
import sys

from bench_scaling import REPO, run_level


def main() -> None:
    dataset = sys.argv[1] if len(sys.argv) > 1 else "0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    levels = [int(x) for x in sys.argv[3:]] or [1, 4, 8]

    sys.path.insert(0, REPO)
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    ensure_dataset(dataset)

    runs = {}
    for c in levels:
        try:
            runs[c] = run_level("selection_scaling_job.py", c, dataset, repeats)
            print(json.dumps(runs[c]))
        except Exception as ex:
            print(f"LEVEL {c} FAILED: {str(ex)[:500]}")
    levels = [c for c in levels if c in runs]
    if len(levels) < 2:
        raise SystemExit("need at least two successful levels")

    def eff(a: int, b: int) -> float:
        return round(
            (runs[b]["docs_per_sec"] / runs[a]["docs_per_sec"]) / (b / a), 3
        )

    pairs = [(levels[i], levels[i + 1]) for i in range(len(levels) - 1)]
    effs = {f"{a}->{b}": eff(a, b) for a, b in pairs}
    primary = pairs[0]
    e_primary = effs[f"{primary[0]}->{primary[1]}"]
    result = {
        "metric": "docs/sec DSIR score+select at multiple core counts",
        "dataset": dataset,
        "levels": runs,
        "scaling_efficiency": effs,
        "primary_pair": list(primary),
        "pass_0.8_gate": e_primary >= 0.8,
    }
    print(json.dumps(result, indent=2))

    n = runs[levels[0]]
    rows = "\n".join(
        f"| {c} | {r['warm_sec']} | {r['docs_per_sec']:,} | {r['draws']} |"
        for c, r in runs.items()
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SELECTION_SCALING.md"), "w") as fh:
        fh.write(
            f"""# BENCH/SELECTION_SCALING — selection-tier two-parallelism protocol

DSIR importance scoring + top-k select on the SAME corpus at multiple
parallelism levels in separate JVMs, each capped with
-XX:ActiveProcessorCount as a faithful N-core executor analog — the
selection-tier counterpart of BENCH/BASELINE.md (span pipeline) and
BENCH/PREP_SCALING.md (pack+shard permutation). The bucket model is a
STANDING artifact (built + collected once per JVM, untimed — the
deployment shape the streaming gate uses); the timed pass scores every
document through the broadcast Arrow kernel (shuffle-free; the corpus
crosses the JVM<->Python socket once) and takes the global top-k.
Warm time = min of {repeats} in-JVM repeats; all draws embedded.

Dataset: `{dataset}` x8 deterministic replication —
{n['n_docs']:,} documents scored per pass. (Unreplicated, the corpus
finishes in ~3 s on ONE core, so fixed job overhead — driver, Arrow
batch setup, the TakeOrdered merge — floors any efficiency ratio; the
replication makes the kernel the measured quantity. A first protocol
run without it measured 0.36 "efficiency" that was pure Amdahl floor,
not kernel behavior — kept here as the cautionary note.)

| cores | warm sec | docs/sec | draws |
|---|---|---|---|
{rows}

**Primary N-vs-4N pair: {primary[0]} vs {primary[1]} cores.**
Scaling efficiency = rate({primary[1]}c) / ({primary[1] // primary[0]} x
rate({primary[0]}c)) = **{e_primary}**
(gate: >= 0.8 -> {"PASS" if e_primary >= 0.8 else "FAIL"})

What this measures: mapInPandas worker-pool scaling — one Python worker
per core, each consuming Arrow batches independently; there is no
exchange in the scored leg, so the only shared resources are the local
socket pairs and the memory bus (see the bus-ceiling analysis in
BENCH/BASELINE.md for why 8->32 flattens on this box).
"""
        )
    print("wrote BENCH/SELECTION_SCALING.md")


if __name__ == "__main__":
    main()
