"""Export-plane benchmark: one command for every workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``BENCHMARK.json``):

- ``export_full``: the export CLI, all four modules, into an empty data
  dir; seeded WordPress tables and a loopback asset origin;
- ``export_resume``: the CLI's ``--ids-file`` re-drive into a restored
  finished export (merge sinks, DLQ preload and clear, skip-existing);
- ``dedup_corpus``: the seven dedup-family operators on a pinned
  base x variants corpus;
- ``registry_headline``: the 13 ``bench.HEADLINE`` registry queries on
  seeded TPC-H-ish tables.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run plus the tracing overhead. The last line
of standard output is the result object; the line before it
(``perfbench_detail``) records the seed, input sizes, nproc, load average,
storage kind, every timing sample, any wrong output and, for a traced
run, its spans. Work files live
under ``.perfbench_work/`` and are removed on exit. ``--scale`` shrinks
the inputs for the self-test.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())

from common import NPROC, PACKAGE, ROOT, load1, storage_kind  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("export_full", "export_resume", "dedup_corpus", "registry_headline")


class Ctx:
    def __init__(self, args):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace, self.scale = bool(args.trace), args.scale
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.input_rows = 0
        self.info: dict = {}
        self._n = 0

    def new_dir(self, stem: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{stem}{self._n}")
        os.makedirs(path)
        return path


def run(ctx: Ctx) -> dict:
    if ctx.workload.startswith("export"):
        import export

        return export.workload(ctx, resume=ctx.workload == "export_resume")
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f).get(ctx.workload, {}).get(f"scale={ctx.scale:g}", {})
    module = importlib.import_module(ctx.workload)
    return module.workload(ctx, pins)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test only)")
    args = ap.parse_args(argv)

    if importlib.util.find_spec(PACKAGE) is None or not os.path.exists("BENCHMARK.json"):
        print(f"perfbench: run from the repository root ({PACKAGE} and BENCHMARK.json not found)",
              file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    ctx = Ctx(args)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "nproc": NPROC, "load1_start": load1(),
        "storage": storage_kind(ctx.work), "python": sys.version.split()[0],
    }
    t0 = time.perf_counter()
    try:
        res = run(ctx)
    except Exception:  # noqa: BLE001 — a failed run prints no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
        parent = os.path.dirname(ctx.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    detail.update(
        load1_end=load1(), run_s=time.perf_counter() - t0, input_rows=ctx.input_rows,
        **{k: v for k, v in res.items() if k not in ("attempted", "failed", "e2e", "layers")},
        **ctx.info,
    )

    if ctx.trace:
        layers = res.get("layers", {})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        detail["layers_measured"] = sorted(k for k in layers if k in metrics)
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
