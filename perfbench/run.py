"""The repository's benchmark: one workload per call, in a fresh process.

    python3 perfbench/run.py --workload geo_vector|image_ingest \
        --seed N --seconds S --trace 0|1 [--scale bench|tiny] [--plant-wrong]

Run from the repository root. It writes the workload's seeded inputs under
`.bench_work/` (untimed), launches `workloads.py` in a new process with
`local[<cores>]`, and prints two lines on stdout: a full report (load,
Spark conf, every sample, the workload-specific metrics) and, last, the
result `{"correct", "attempted", "failed", "metrics"}` holding the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) of
BENCHMARK.json. The clock of `setup_s` starts when the workload process
is launched. Exits non-zero, printing no result, when the package is not
there or the workload process fails.

Workloads:
- geo_vector:   the eight headline OSM-semantics queries plus
                flagship_lineitem over seeded customer/lineitem tables.
- image_ingest: a seeded dedup corpus streamed file by file through the
                incremental dedup store, compacting every second batch.

`--scale tiny` shrinks every input for the smoke test; `--plant-wrong`
corrupts one checked output so the smoke test can see it counted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

# a run must end within 180 s: the workload process gets what is left
DEADLINE_S = 172
STARTED = time.monotonic()

SCALES = {
    # geo_sf: TPC-H-like scale factor of customer/lineitem
    # landing_*: originals per streamed file; measured files per stream,
    # untraced and traced (the traced run switches the event log per pair
    # of batches, so it needs more than one pair)
    # probe_*: inputs of the traced run's isolation probes
    "bench": {"geo_sf": 0.01, "landing_originals": 60, "landing_files": 2,
              "landing_files_traced": 4, "probe_images": 400,
              "probe_corpus": 300, "probe_geo_sf": 0.002,
              "probe_originals": 20},
    "tiny": {"geo_sf": 0.001, "landing_originals": 20, "landing_files": 2,
             "landing_files_traced": 4, "probe_images": 60,
             "probe_corpus": 60, "probe_geo_sf": 0.001,
             "probe_originals": 10},
}

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "items_per_s": "1/s"}


def write_inputs(work: str, workload: str, seed: int, scale: dict,
                 trace: bool) -> dict:
    import fixtures
    from workloads import PROBE_WARM_BATCHES, WARM_BATCHES

    inputs: dict = {"seed": seed}
    if workload == "geo_vector":
        geo = os.path.join(work, "geo")
        rows = fixtures.write_geo_tables(geo, seed, scale["geo_sf"])
        inputs.update(geo_dir=geo, geo_sf=scale["geo_sf"],
                      customer_rows=rows["customer"],
                      lineitem_rows=rows["lineitem"])
    if workload == "image_ingest":
        # the stream's warm-up batches come first, then the measured ones
        n = scale["landing_files_traced" if trace else "landing_files"]
        inputs.update(landing_inputs(os.path.join(work, "landing"), seed,
                                     WARM_BATCHES + n,
                                     scale["landing_originals"]))
    elif trace:
        # the geo workload's probe stream: the warm-up batch, then one
        # measured batch, which compacts
        probe = landing_inputs(os.path.join(work, "probe_landing"), seed,
                               PROBE_WARM_BATCHES + 1,
                               scale["probe_originals"])
        inputs["probe_landing"] = probe["landing"]
    if trace:
        probe_images = os.path.join(work, "probe_images")
        fixtures.write_images_table(probe_images, seed,
                                    scale["probe_images"])
        probe_corpus = os.path.join(work, "probe_corpus")
        fixtures.stage_landing_files(probe_corpus, seed + 1, 1,
                                     scale["probe_corpus"])
        dedup_dir = os.path.join(work, "probe_dedup")
        fixtures.write_customer_count(dedup_dir, scale["probe_corpus"])
        inputs.update(probe_images=probe_images, probe_corpus=probe_corpus,
                      probe_corpus_originals=scale["probe_corpus"],
                      probe_dedup_dir=dedup_dir)
        geo = os.path.join(work, "probe_geo")
        fixtures.write_geo_tables(geo, seed, scale["probe_geo_sf"])
        inputs["probe_geo_dir"] = geo
    return inputs


def landing_inputs(land: str, seed: int, n_files: int,
                   originals: int) -> dict:
    import fixtures
    import pyarrow.parquet as pq

    files = fixtures.stage_landing_files(land, seed, n_files, originals)
    return {"landing": land, "landing_files": n_files,
            "landing_file_images": [pq.read_metadata(f).num_rows
                                    for f in files]}


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def launch(args, work: str) -> int:
    """Run the workload process in its own process group; whatever it
    leaves running (JVM, Python workers) is killed with the group."""
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd()] + [p for p in [env.get("PYTHONPATH")] if p])
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--work", work, "--workload", args.workload,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--launched", repr(time.time())]
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=DEADLINE_S - (time.monotonic() - STARTED))
    except subprocess.TimeoutExpired:
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
        return -1
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=("geo_vector", "image_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="bench")
    p.add_argument("--plant-wrong", action="store_true")
    args = p.parse_args()
    # a terminated run still kills the workload's process group on its way
    # out (the finally blocks of launch and main)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join("osm2mp_spark", "__init__.py")):
        print("perfbench: run from the repository root (osm2mp_spark/ not "
              "found)", file=sys.stderr)
        return 2

    work = os.path.abspath(os.path.join(
        ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = write_inputs(work, args.workload, args.seed,
                              SCALES[args.scale], bool(args.trace))
        with open(os.path.join(work, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        ticks = cpu_ticks()
        code = launch(args, work)
        steal = steal_share(ticks, cpu_ticks())
        if code != 0:
            print(f"perfbench: workload process exited with {code}",
                  file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in res["end_to_end"].items()}
    res["report"]["cpu_steal_share"] = steal
    print(json.dumps({"report": res["report"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or name.endswith("bytes_in") or name.endswith(
            "bytes_out"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
