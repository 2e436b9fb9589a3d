"""The benchmark's one command.

    python3 perfbench/run.py --workload {cdc_ingest,store_reads} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. It generates the workload's inputs from
the seed in a child process (untimed), builds the engine session and runs the workload's
set-up and warm-up (``setup_s``), measures a timed phase sized from
``--seconds``, checks every output, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate run that records spans and Spark's counters
and reports the per-layer metrics. Everything it writes stays under
``.perfbench_work/`` in the repository root and is removed at exit,
except the traced run's span file in ``.perfbench_out/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"


def load_spec() -> tuple[list[str], dict, dict]:
    """The workload names, the end-to-end metrics (unit, bound) and the
    per-layer metrics' units, as BENCHMARK.json declares them. Each
    workload is the module of the same name in this directory."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        [w["name"] for w in spec["workloads"]],
        {m["name"]: m for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def end_to_end(res: dict, spec: dict) -> tuple[dict, dict]:
    """The gated end-to-end metrics, which every workload reports under
    the same names, and the same numbers under the workload's own names
    plus the latency tail and its rank (not gated: see README.md)."""
    import harness

    values = {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "work_per_s": res["work_per_s"],
        "latency_p50_s": res["latency_s"],
    }
    gated = {k: {"value": values[k], "unit": m["unit"]} for k, m in spec.items()}
    work, work_unit, p50, tail_name = res["names"]
    tail, rank = harness.tail(res["samples"])
    named = {
        "setup_s": gated["setup_s"],
        "peak_rss_mb": gated["peak_rss_mb"],
        work: {"value": res["work_per_s"], "unit": work_unit},
        p50: gated["latency_p50_s"],
        tail_name: {"value": tail, "unit": "s", "rank": rank},
    }
    return gated, named


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    workloads, e2e_spec, layer_units = load_spec()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Keep every file Spark, the JVM and Python write inside the checkout.
    os.environ.update(
        TMPDIR=work,
        TZ="UTC",
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=work,
    )
    time.tzset()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spark = None
    try:
        import harness

        wl = importlib.import_module(args.workload)
        t = time.perf_counter()
        inp = harness.in_child(args.workload, "prepare", work, args.seed, args.seconds)
        generate_s = time.perf_counter() - t
        probe_s = [harness.host_probe()]

        tracer = harness.Tracer(enabled=bool(args.trace))
        setup_t0 = time.perf_counter()
        with tracer.span("session.start"):
            from meepo_spark.session import get_spark

            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.local.dir": work,
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    # a heap fixed at its maximum and touched at start
                    # keeps peak RSS from following how far the collector
                    # happened to spread allocations over the heap
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}"
                    ),
                },
            )
            spark.range(1).count()  # the first job pays the executor start
        with tracer.span("registry.load"):
            from meepo_spark import registry

            registry.load_all()
        res = wl.run(spark, work, inp, tracer, setup_t0)
        probe_s.append(harness.host_probe())
        # the plateau rule holds the timed phase to the latency's own bound
        harness.check_plateau("latency", res["plateau_samples"], e2e_spec["latency_p50_s"]["bound"])
        e2e, named = end_to_end(res, e2e_spec)
        for msg in res["checks"]:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "timed_ops": res["attempted"],
            "metrics": named,
            "rss_mb": res["rss_mb"],
            "plateau_gap": harness.plateau_gap(res["plateau_samples"]),
            "plateau_samples": [round(x, 4) for x in res["plateau_samples"]],
            "warmup_samples": [round(x, 4) for x in res["warmup_samples"]],
            # host speed before set-up and after the timed phase
            "host_probe_s": probe_s,
            "phases_s": {
                "generate": generate_s,
                "setup": res["setup_s"],
                "timed": res["timed_s"],
                "check": res["check_s"],
            },
        }
        if args.trace:
            # the layers both workloads measure are the per-layer set of
            # BENCHMARK.json; a workload's own layers go on the detail line
            layers = res["layers"]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
            detail["workload_layers"] = {k: v for k, v in layers.items() if k not in layer_units}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            detail["traced"] = True
            detail["spans"] = tracer.layer_table()
        else:
            metrics = e2e
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": not res["checks"],
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "metrics": metrics,
                }
            )
        )
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


if __name__ == "__main__":
    sys.exit(main())
