"""One benchmark workload in a fresh process (started by run.py).

    python3 perfbench/workloads.py --work DIR --workload NAME \
        --seconds S --trace 0|1 --launched EPOCH [--plant-wrong]

Reads the input description `DIR/inputs.json` written by run.py and writes
`DIR/result.json`. One session runs: set-up (session, package shipping, the
first pass or micro-batch, which pays index/BSP builds, JIT and Python
worker spawn), the load record (loadavg, a fixed JVM-only control job),
the timed window of at least `S` seconds, the output checks (untimed) and
the closing load record. With `--trace 1` the session also writes the
uncompressed event log, switched off for every second measured pass (or
pair of batches) so the tracing overhead is measured in the same process,
and the isolation probes of probes.py run after the window.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import engine  # noqa: E402

HEADLINE = (
    "pip_city", "pip_hierarchy", "knn_city", "clip_chains", "tile_counts",
    "tile_chain_closure", "node_degree", "density_histogram",
)
GEO_PASS = HEADLINE + ("flagship_lineitem",)
MAX_HAMMING = 7
# three, so each query's median across the passes drops its slowest run
# (usually the first, still warming up)
MIN_PASSES = 3
# leading micro-batches of every stream that warm it up untimed
WARM_BATCHES = 2
# the geo workload's probe stream warms up with one batch only (then one
# measured batch, which compacts): there streaming.* is a layer record,
# not the measured workload, and a shorter stream keeps the run short
PROBE_WARM_BATCHES = 1


class Run:
    """Operation counts and timings of one workload process."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        with open(os.path.join(args.work, "inputs.json")) as f:
            self.inputs = json.load(f)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.report: dict = {"workload": args.workload,
                             "inputs": self.inputs}
        # the traced run's event log, switched per pass or batch pair
        self.elog: engine.EventLog | None = None

    def trace_slot(self, slot: int) -> bool:
        """Switch the event log for measured slot i (a pass, or a pair of
        batches) and return whether it is on: the slots alternate, the
        starting side chosen by the seed. Always off in an untraced run."""
        if self.elog is None:
            return False
        on = (slot + self.inputs["seed"]) % 2 == 0
        self.elog.set(on)
        return on

    def op(self, label: str, fn):
        """Run one operation (a query call or a stream); a raised exception
        counts as a failed operation and returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.fail(label, traceback.format_exc())
            return None

    def fail(self, label: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(label)
        print(f"FAILED {label}: {detail}", file=sys.stderr, flush=True)

    def check(self, label: str, problems: list[str]) -> None:
        """One output check; every problem found makes it a failure."""
        self.attempted += 1
        if problems:
            self.fail(f"check {label}", "; ".join(problems[:5]))


# --- comparing outputs ------------------------------------------------------

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(
        drop=True)


def differences(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact comparison as sets of rows (float columns bit-exact)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    a, b = canon(got), canon(want)
    out = []
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        bad = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
        if bad.any():
            i = int(np.argmax(bad))
            out.append(f"{c}: {int(bad.sum())} differ, first {av[i]!r} "
                       f"!= {bv[i]!r}")
    return out


def plant(df: pd.DataFrame) -> pd.DataFrame:
    """The deliberately wrong output of --plant-wrong: one row lost."""
    return df.iloc[1:]


# --- geo_vector -------------------------------------------------------------

def geo_builders() -> dict:
    from osm2mp_spark import queries
    from osm2mp_spark.plans.flagship import flagship_lineitem

    queries.load_all()
    b = {name: queries.QUERIES[name] for name in HEADLINE}
    b["flagship_lineitem"] = flagship_lineitem
    return b


def geo_pass(run: Run, spark, geo_dir: str, collect: bool = False):
    """One pass: every query from its builder call through the sink (noop,
    or toPandas when `collect`). Returns (pass seconds, {query: (build_s,
    run_s)}, {query: collected output})."""
    builders = geo_builders()
    per, outputs = {}, {}
    t_pass = time.perf_counter()
    for name in GEO_PASS:
        def one(name=name):
            t0 = time.perf_counter()
            df = builders[name](spark, geo_dir)
            t1 = time.perf_counter()
            if collect:
                outputs[name] = df.toPandas()
            else:
                engine.noop(df)
            return t1 - t0, time.perf_counter() - t1

        r = run.op(name, one)
        if r is not None:
            per[name] = r
    return time.perf_counter() - t_pass, per, outputs


def flagship_reference(spark, geo_dir: str) -> pd.DataFrame:
    """Driver-side numpy recomputation of flagship_lineitem's rollup:
    smallest-wins city, nearest-centre fallback (distance, then id), tile
    by the same BSP model tree."""
    import pyarrow.parquet as pq

    from osm2mp_spark.plans.flagship import (
        _bsp_tree_cached, _city_index_cached)
    from osm2mp_spark.sources.layers import CITIES
    from osm2mp_spark.sources.points import derived_points_np

    li = pq.read_table(os.path.join(geo_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_linenumber"])
    keys = (li["l_orderkey"].to_numpy().astype(np.int64) * 10
            + li["l_linenumber"].to_numpy().astype(np.int64))
    lon, lat = derived_points_np(keys)
    city = _city_index_cached().find_smallest_containing(lon, lat)
    miss = np.array([c is None for c in city])
    anchors = sorted(CITIES, key=lambda c: c["area_id"])
    d2 = np.stack([(lon[miss] - c["center"][0]) * (lon[miss] - c["center"][0])
                   + (lat[miss] - c["center"][1]) * (lat[miss] - c["center"][1])
                   for c in anchors])
    # argmin takes the first minimum: anchors sorted by id break ties by id
    ids = np.array([c["area_id"] for c in anchors], dtype=object)
    city[miss] = ids[np.argmin(d2, axis=0)]
    tile = _bsp_tree_cached(spark).assign(lon, lat)
    df = pd.DataFrame({"city_id": city, "tile_id": tile})
    return (df.groupby(["city_id", "tile_id"]).size()
            .rename("count").reset_index())


def geo_checks(run: Run, spark, geo_dir: str, outputs: dict) -> None:
    """Each collected query output against the registry's DuckDB oracle
    over the same tables; flagship_lineitem against a numpy recomputation.
    A query whose output is missing (it raised) fails its check too."""
    from osm2mp_spark import queries

    con = duckdb.connect()
    for t in ("customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(geo_dir, t + '.parquet')}')")
    for name in GEO_PASS:
        got = outputs.get(name)
        if got is None:
            run.check(name, ["no output"])
            continue
        if run.args.plant_wrong and name == GEO_PASS[0]:
            got = plant(got)
        if name == "flagship_lineitem":
            problems = differences(got, flagship_reference(spark, geo_dir))
            n = int(got["count"].sum())
            if n != run.inputs["lineitem_rows"]:
                problems.append(f"counts sum to {n}")
        else:
            want = con.sql(queries.ORACLES[name]).df()
            problems = differences(got, want)
            if len(want) == 0:
                problems.append("oracle returned no rows")
        run.check(name, problems)
    con.close()


def geo_window(run: Run, spark) -> list[dict]:
    """Timed passes until `seconds` have elapsed (at least MIN_PASSES)."""
    geo = run.inputs["geo_dir"]
    passes = []
    t_start = time.perf_counter()
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - t_start < run.args.seconds):
        traced = run.trace_slot(len(passes))
        w0 = time.time()
        t, per, _ = geo_pass(run, spark, geo)
        passes.append({"s": t, "kind": "pass", "queries": per,
                       "traced": traced,
                       "window": (w0, time.time())})
    return passes


def pass_of_medians(passes: list[dict]) -> float:
    """A pass's time as the sum over its queries of each query's median
    (builder call plus sink) across the passes: a slow query in one pass
    moves the result less than in the median of pass totals."""
    total = 0.0
    for name in GEO_PASS:
        runs = [sum(p["queries"][name]) for p in passes if name in p["queries"]]
        total += engine.median(runs) if runs else 0.0
    return total


def geo_vector(run: Run, spark) -> tuple[dict, list[dict]]:
    geo = run.inputs["geo_dir"]
    # the first pass collects the outputs the checks compare
    t, _, outputs = geo_pass(run, spark, geo, collect=True)
    setup_s = time.time() - run.args.launched
    run.report["first_pass_s"] = t
    load_record(run, spark)
    passes = geo_window(run, spark)
    run.report["passes"] = passes
    geo_checks(run, spark, geo, outputs)
    pass_s = pass_of_medians(passes)
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "items_per_s": run.inputs["lineitem_rows"] / pass_s,
    }, passes


# --- image_ingest -----------------------------------------------------------

class Stream:
    """One incremental-dedup stream over a landing dir into fresh stores,
    one file per trigger, compacting the signature store and the pairs
    after every second batch. The first `warm` batches warm it up; the
    rest are measured. In a traced run the event log is switched per pair
    of measured batches (each pair holds one compaction)."""

    def __init__(self, run: Run, spark, progress: list, landing: str,
                 root: str, after_warmup=None, warm: int = WARM_BATCHES):
        self.run, self.spark, self.progress = run, spark, progress
        self.warm = warm
        self.landing, self.root = landing, root
        # runs between the warm-up and the measured batches, outside both
        # set-up and the measured wall time
        self.after_warmup = after_warmup
        self.first_batch_at = None
        self.store = os.path.join(root, "store")
        self.pairs = os.path.join(root, "pairs")
        # (batch_id, compact_store seconds, compact_pairs seconds)
        self.compactions: list[tuple[int, float, float]] = []
        self.batch_end: list[tuple[float, float]] = []
        self.traced: dict[int, bool] = {}

    def _on_batch(self, batch_id: int) -> None:
        from osm2mp_spark.streaming.dedup import compact_pairs, compact_store

        if batch_id == 0:
            self.first_batch_at = time.time()
        if batch_id % 2 == 1:
            t0 = time.perf_counter()
            compact_store(self.spark, self.store)
            t1 = time.perf_counter()
            compact_pairs(self.spark, self.pairs, self.store)
            self.compactions.append(
                (batch_id, t1 - t0, time.perf_counter() - t1))
        if batch_id == self.warm - 1 and self.after_warmup is not None:
            self.after_warmup()
        nxt = batch_id + 1
        if nxt >= self.warm:
            self.traced[nxt] = self.run.trace_slot((nxt - self.warm) // 2)
        self.batch_end.append((time.time(), time.perf_counter()))

    def go(self) -> dict:
        from osm2mp_spark.streaming.dedup import start_incremental_dedup

        shutil.rmtree(self.root, ignore_errors=True)
        schema = self.spark.read.parquet(self.landing).schema
        files = sorted(f for f in os.listdir(self.landing)
                       if f.endswith(".parquet"))
        q = start_incremental_dedup(
            self.spark, self.landing, schema,
            store_path=self.store, pairs_path=self.pairs,
            checkpoint_path=os.path.join(self.root, "ckpt"),
            max_hamming=MAX_HAMMING, max_files_per_trigger=1,
            on_batch_complete=self._on_batch,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        end = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if len(self.batch_end) != len(files):
            raise RuntimeError(
                f"{len(self.batch_end)} batches for {len(files)} files")
        prog = engine.wait_for_progress(self.progress, str(q.id), len(files))
        if len(prog) != len(files):
            raise RuntimeError(f"{len(prog)} progress events for "
                               f"{len(files)} batches")
        batches = [{
            "batch_id": p["batch_id"],
            "kind": "compact" if p["batch_id"] % 2 == 1 else "plain",
            "trigger_s": p["durations_ms"].get("triggerExecution", 0) / 1e3,
            "planning_s": p["durations_ms"].get("queryPlanning", 0) / 1e3,
            "traced": self.traced.get(p["batch_id"], False),
            "window": (self.batch_end[p["batch_id"] - 1][0],
                       self.batch_end[p["batch_id"]][0]),
        } for p in prog if p["batch_id"] >= self.warm]
        return {
            "root": self.root,
            "warm": self.warm,
            "first_batch_at": self.first_batch_at,
            "warmup_trigger_s": [
                p["durations_ms"].get("triggerExecution", 0) / 1e3
                for p in prog[:self.warm]],
            # the measured part: from the warm-up's end to the stream's end
            "wall_s": end - self.batch_end[self.warm - 1][1],
            "batches": batches,
            "compactions": [c for c in self.compactions
                            if c[0] >= self.warm],
        }


def ingest_window(run: Run, spark, progress: list) -> list[dict]:
    """Streams over the landing dir until `seconds` have passed since the
    first one's batch 0 (at least one stream). Each micro-batch is one
    attempted operation; a failed stream fails all of its batches. The
    first stream's batch 0 ends the set-up; the load record follows its
    warm-up."""
    streams = []
    n = run.inputs["landing_files"]
    t_start = None
    while not streams or time.time() - t_start < run.args.seconds:
        st = Stream(run, spark, progress, run.inputs["landing"],
                    os.path.join(run.work, "streams", str(len(streams))),
                    None if streams else lambda: load_record(run, spark))
        run.attempted += n - 1
        res = run.op(f"stream {len(streams)}", st.go)
        if res is None:
            run.failed += n - 1
            raise RuntimeError("a measured stream failed")
        streams.append(res)
        if t_start is None:
            t_start = res["first_batch_at"]
    return streams


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return total


def ingest_checks(run: Run, spark, root: str) -> None:
    """The stream's pairs equal the batch wide Hamming join over the whole
    landed table, and its store holds one signature per landed image."""
    from osm2mp_spark.operators.images import (
        dhash_wide_images, wide_hamming_pairs)
    from osm2mp_spark.streaming.dedup import (
        read_pairs, read_store_signatures)

    landed = spark.read.parquet(run.inputs["landing"])

    def outputs():
        got = read_pairs(spark, os.path.join(root, "pairs")).toPandas()
        want = wide_hamming_pairs(dhash_wide_images(landed),
                                  MAX_HAMMING).toPandas()
        sig_ids = read_store_signatures(
            spark, os.path.join(root, "store")).select("image_id").toPandas()
        ids = landed.select("image_id").toPandas()
        return got, want, sig_ids, ids

    r = run.op("ingest outputs (check)", outputs)
    if r is None:
        run.check("read_pairs", ["no output"])
        return
    got, want, sig_ids, ids = r
    if run.args.plant_wrong:
        got = plant(got)
    problems = differences(got, want)
    if len(want) == 0:
        problems.append("no near-duplicate pairs in the landed table")
    run.check("read_pairs", problems)
    problems = []
    if len(sig_ids) != len(ids):
        problems.append(f"{len(sig_ids)} signatures for {len(ids)} images")
    if set(sig_ids["image_id"]) != set(ids["image_id"]):
        problems.append("signature ids differ from landed ids")
    run.check("store", problems)


def image_ingest(run: Run, spark, progress: list) -> tuple[dict, list]:
    streams = ingest_window(run, spark, progress)
    setup_s = streams[0]["first_batch_at"] - run.args.launched
    run.report["streams"] = streams
    ingest_checks(run, spark, streams[0]["root"])
    batches = [b for s in streams for b in s["batches"]]
    lat = [b["trigger_s"] for b in batches]
    per_file = run.inputs["landing_file_images"]
    images = sum(per_file[WARM_BATCHES:]) * len(streams)
    last = streams[-1]["root"]
    pct, tail = engine.tail(lat)
    run.report.update({
        "batch_s_p50": engine.median(lat),
        "batch_s_tail": tail,
        "batch_s_tail_percentile": pct,
        "batches": len(lat),
        "store_bytes_per_input_byte": (
            (dir_bytes(os.path.join(last, "store"))
             + dir_bytes(os.path.join(last, "pairs")))
            / dir_bytes(run.inputs["landing"])),
    })
    return {
        "setup_s": setup_s,
        # mean micro-batch latency: compactions are every second batch, so
        # the mean weighs both kinds of batch as the stream does
        "pass_s": sum(lat) / len(lat),
        "items_per_s": images / sum(s["wall_s"] for s in streams),
    }, [dict(b, s=b["trigger_s"]) for b in batches]


def streaming_layer(spark, streams: list[dict], read_batch_metrics) -> dict:
    """streaming.* over the measured batches of the given streams:
    medians per batch from the listener, the per-batch ledger and the
    compaction timings."""
    frames = []
    for s in streams:
        t = read_batch_metrics(
            spark, os.path.join(s["root"], "store")).toPandas()
        frames.append(t[t["batch_id"] >= s["warm"]])
    ledger = pd.concat(frames)
    compactions = [c for s in streams for c in s["compactions"]]
    return {
        "streaming.process_s": engine.median(ledger["secs"]),
        "streaming.trigger_s": engine.median(
            [b["trigger_s"] for s in streams for b in s["batches"]]),
        "streaming.planning_s": engine.median(
            [b["planning_s"] for s in streams for b in s["batches"]]),
        "streaming.store_rows_scanned": engine.median(
            ledger["store_rows_scanned"]),
        "streaming.read_mb": engine.median(ledger["read_bytes"]) / 2**20,
        "streaming.compact_store_s": engine.median(
            [c[1] for c in compactions]),
        "streaming.compact_pairs_s": engine.median(
            [c[2] for c in compactions]),
    }


# --- driver -----------------------------------------------------------------

def load_record(run: Run, spark) -> None:
    """Load before the timed window: loadavg and the control job, run after
    set-up so neither shares its cold start."""
    run.report["loadavg_start"] = engine.loadavg()
    run.report["control_s_start"] = engine.control_s(spark)


def traced_layer(run: Run, units: list[dict]) -> dict:
    """trace.* and spark.* from the measured units (passes, or plain and
    compacting batches): engine counters per traced unit; the traced
    units' median time; and, as the tracing overhead, the traced minus the
    untraced median time, averaged over the kinds of unit both sides ran."""
    on = [u for u in units if u["traced"]]
    counters = engine.spark_counters(run.work, [u["window"] for u in on])
    layer = {f"spark.{k}": v / len(on) for k, v in counters.items()}
    layer["trace.pass_s"] = engine.median([u["s"] for u in on])
    diffs = []
    for kind in sorted({u["kind"] for u in units}):
        t = [u["s"] for u in on if u["kind"] == kind]
        f = [u["s"] for u in units if u["kind"] == kind and not u["traced"]]
        if t and f:
            diffs.append(engine.median(t) - engine.median(f))
    if not diffs:
        raise RuntimeError("no kind of unit ran both traced and untraced")
    layer["trace.overhead_s"] = sum(diffs) / len(diffs)
    return layer


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    p.add_argument("--workload", required=True,
                   choices=("geo_vector", "image_ingest"))
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--launched", type=float, required=True)
    p.add_argument("--plant-wrong", action="store_true")
    args = p.parse_args()
    run = Run(args)
    ingest = args.workload == "image_ingest"

    spark = engine.make_session(args.work, event_log=bool(args.trace))
    engine.ship_package(spark, args.work)
    if args.trace:
        run.elog = engine.EventLog(spark)
    progress = engine.add_progress_listener(spark)
    e2e, units = (image_ingest(run, spark, progress) if ingest
                  else geo_vector(run, spark))
    # report-only: G1 heap growth makes the JVM's peak bimodal across
    # identical runs (about 1.0 or 1.5 GB), too wide for a bounded metric
    peaks = engine.engine_peaks_mb()
    run.report["peak_rss_by_process_mb"] = peaks
    run.report["peak_rss_mb"] = sum(mb for _, mb in peaks)
    run.report["phase_end_s"] = {"measured": time.time() - args.launched}

    layer = None
    if args.trace:
        import probes

        run.elog.set(False)
        layer = probes.run_all(run, spark, progress, ingest)
        run.report["phase_end_s"]["probes"] = time.time() - args.launched
    run.report["control_s_end"] = engine.control_s(spark)
    run.report["loadavg_end"] = engine.loadavg()
    run.report["spark_conf"] = engine.conf_record(spark)
    spark.stop()
    if args.trace:
        # the event log is complete once the session has stopped
        layer.update(traced_layer(run, units))

    run.report["end_to_end"] = e2e
    run.report["error_rate"] = run.failed / max(1, run.attempted)
    run.report["failures"] = run.failures
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "report": run.report,
    }
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f, default=float)


if __name__ == "__main__":
    main()
