"""spark-submit entrypoint — the deployment surface of the north rule.

    zip -qr pkg.zip otel_tail_sampler_spark
    spark-submit --master <cluster> --py-files pkg.zip scripts/run_job.py \
        --input  lake/bronze/tokenized \
        --out    lake/routed_run_001 \
        --config config.json \
        [--day-partition]

The config JSON is the reference-operator shape documented in
otel_tail_sampler_spark/config.py (sampling policies + force rules).
Emits ONE JSON line of run metrics (per-sink routed rows,
trace count, wall ms) on stdout so a scheduler can assert per-sink parity
without reading the lake.

A rerun with the same arguments after a failure resumes from the
checkpoint in ``--out`` (plans/checkpoint.py): it writes only the buckets
the failed run did not commit, and reports the same metrics as a run that
never failed. A rerun with other arguments raises until the unfinished
run's checkpoint and routed output are deleted; a rerun of a finished run
starts over.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="tokenized spans table/dir")
    p.add_argument("--out", required=True, help="output root (routed/ metrics_*/ exported/)")
    p.add_argument("--config", help="JSON config (config.py shape); default policies if omitted")
    p.add_argument("--day-partition", action="store_true",
                   help="add the day(timestamp_ms) sink dimension")
    p.add_argument("--master", default=None, help="override master (else spark-submit decides)")
    args = p.parse_args(argv)

    from otel_tail_sampler_spark.config import (
        force_rules_from_dict,
        load_config,
        sampler_config_from_dict,
    )
    from otel_tail_sampler_spark.plans.pipeline import run_and_write
    from otel_tail_sampler_spark.session import build_session

    cfg, rules = None, []
    if args.config:
        d = load_config(args.config)
        cfg = sampler_config_from_dict(d)
        rules = force_rules_from_dict(d)
    spark = build_session(app_name="otel-tail-sampler", master=args.master)
    m = run_and_write(
        spark,
        args.input,
        args.out,
        cfg,
        day_partition=args.day_partition,
        force_rules=rules or None,
    )
    out = {r["metric"]: r["value"] for r in m["run_metrics"].collect()}
    out["status"] = "ok"
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    sys.path.insert(0, ".")  # --py-files ships the package; repo runs work too
    main()
