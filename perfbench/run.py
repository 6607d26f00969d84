"""Repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``):

- ``query_batch``: closed loop over event-core queries and text/vector
  kernel queries;
- ``event_stream``: open loop over the integrated streaming pipeline,
  then a catch-up drain of a pre-landed backlog.

Every run generates its inputs from ``--seed`` into a fresh directory
under ``.perfbench_run/`` in the checkout, checks the program's outputs
outside the timed region, removes its scratch files and the managed
ingest copies, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs with spans and the Spark event
log on and reports the per-layer metrics.  The line before it carries
the box (cpus, memory, loadavg, busy fraction before, after and over the
whole run) and the sample counts behind each figure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import box  # noqa: E402

# The program's own heap setting (it defaults to 24g), sized to the
# generated inputs: the driver JVM peaks near 1.1 GB resident.  With 3g,
# G1 grew the heap by different steps run to run, and peak RSS split
# between about 1.2 and 1.6 GB.
DRIVER_MEMORY = "1g"


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-tests use a tiny scale)")
    return ap.parse_args(argv)


def configure_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``.

    Must run before pyspark starts the JVM.  The event log is switched on
    through launch confs only, so the program's code is unchanged."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        ESS_MODEL_CACHE=os.path.join(run_dir, "models"),
    )
    tempfile.tempdir = tmp  # in case something already cached /tmp
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp.  The heap
    # and collector settings stay the program's own.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [f"--driver-java-options '{java_opts}'"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench.workloads import WORKLOADS, Run

    cpus = box.cpus()
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    before = box.snapshot()
    ticks = box.cpu_ticks()
    configure_env(run_dir, cpus, bool(args.trace))
    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        scale=args.scale,
        cpus=cpus,
        dir=run_dir,
    )
    try:
        result = WORKLOADS[args.workload](run)
    finally:
        run.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    busy, steal = box.cpu_fracs(since=ticks)
    after = box.snapshot()
    detail = {"workload": args.workload, "seed": args.seed, "box_before": before,
              "box_after": after, "box_run": {"busy_frac": round(busy, 3), "steal_frac": round(steal, 3)},
              "detail": result.pop("detail")}
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # A SIGTERM unwinds through main's finally, so scratch files go too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
