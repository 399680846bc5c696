"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship_build --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer table with
``--trace 1``).  Everything the run writes goes under
``.perfbench_out/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1536m"


def load_spec() -> dict:
    """BENCHMARK.json: the workloads and the names and units of every
    metric the benchmark prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(spec: dict, argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measured seconds (each workload also "
                         "runs a minimum number of operation rounds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def pin_environment(out_dir: str) -> int:
    """Fix the run environment before the JVM starts; returns cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(out_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM the run starts (the spark-submit launcher too) keeps
        # its temp files in the run dir and writes no hsperfdata
        "_JAVA_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import coies_spark and perfbench from the root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return cores


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(spec, argv)
    if not (os.path.isfile(os.path.join(ROOT, "coies_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no coies_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    cores = pin_environment(out_dir)
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench.harness import Harness
    from perfbench.workloads import KIND_METRICS, WORKLOADS

    env = {"pyspark": pyspark.__version__,
           "python": platform.python_version(), "nproc": cores,
           "master": f"local[{cores}]", "driver_mem": DRIVER_MEM}
    print("# env " + " ".join(f"{k}={v}" for k, v in env.items()), flush=True)

    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace),
                args.smoke, ROOT, out_dir, T_PROCESS, cores)
    try:
        h.start_session()
        primary = WORKLOADS[args.workload](h)
        h.finish()
        if args.trace:
            values = h.layers(primary, KIND_METRICS)
            h.tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                       f"spans-{args.workload}.json"))
        else:
            values = h.end_to_end(primary)
    finally:
        h.shutdown()
        shutil.rmtree(out_dir, ignore_errors=True)

    for o in h.ops:
        if o.error is not None:
            note = "known defect" if o.known_defect else "failed"
            print(f"# {note} {o.kind}: {o.error}", flush=True)
    failed = [o for o in h.ops if o.error is not None and not o.known_defect]
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    # a layer this workload does not reach reads 0; every end-to-end
    # metric must be measured
    unreached = [name for name in units if name not in values]
    if unreached and not args.trace:
        raise KeyError(f"end-to-end metrics not measured: {unreached}")
    values = {name: values.get(name, 0.0) for name in units}
    if unreached:
        print("# unreached " + " ".join(unreached))
    for name, unit in units.items():
        print(f"# {name} = {values[name]:.6g} {unit}")
    report = {
        "correct": not failed,
        "attempted": len(h.ops),
        "failed": len(failed),
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"report-{args.workload}-trace{args.trace}.json"),
              "w") as f:
        json.dump({**report, "env": env, "seed": args.seed,
                   "ops": [{"kind": o.kind, "wall_s": o.wall,
                            "error": o.error} for o in h.ops]}, f, indent=1)
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
