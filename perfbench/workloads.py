"""The benchmark's workloads: inputs, timed operations and their checks.

Every operation calls the package's public surface (``queries.registry()``
entries, the ``osmpbf`` DataSource, ``PartitionedCheckpoint`` and
``read_pbf_points_layer_stream``) and sends its whole result to a sink:
Spark's ``noop`` format for queries, parquet for the ingest side.  Every
operation also has a check against an independent reference, run once
per run before timing:

* registry queries: their DuckDB oracle SQL over the generated tables,
  compared column-sorted and exactly as ``tests/oracle_util.compare``,
  in a separate process (``oracle.py``) after the warm-up;
* PBF layers: the driver-side decode (``parse_pbf`` plus the layer
  assemblers) of the same files, whose node coordinates must in turn
  equal what the generator wrote;
* the resumed checkpoint: a clean single run; the stream: the batch
  points layer of the landed file.

Apart from the operations, the ingest group decodes a small extract with
negative lat/lon offsets, which no operation reads, and reports a wrong
decode as a known defect (``Workload.notes``): it is printed with every
run but counts neither as a failed operation nor against ``correct``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

import gen_pbf
import gen_tables

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    name: str
    #: the package modules (layers) the operation loads most
    layers: str
    run: Callable[[], None]
    check: Callable[[], None]


@dataclass
class Workload:
    """One group of operations over one generated input."""

    input_rows: int = 0
    input_bytes: int = 0
    ops: list[Op] = field(default_factory=list)
    #: runs before each pass, outside the operation timers
    reset: Callable[[], None] = lambda: None
    #: runs once after every ``check``: finishes deferred checks, drops
    #: check-only state and returns ``{op name: mismatch}`` for failures
    finish_checks: Callable[[], dict[str, str]] = lambda: {}
    #: known defects outside the operations, found by ``finish_checks``
    notes: list[str] = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# registry queries against their DuckDB oracles
# ---------------------------------------------------------------------------

def _registry_group(spark, names: dict[str, str], sf_dir: str, rows: int, size: int) -> Workload:
    """Registry queries over ``sf_dir``.  A check runs the query and keeps
    its full result; ``finish_checks`` compares every kept result with the
    query's oracle SQL in one ``oracle.py`` process."""
    from pydriosm_spark import queries

    reg = queries.registry()
    manifest: list[dict] = []
    got_dir = sf_dir + "_checks"
    os.makedirs(got_dir)

    def check(name: str) -> None:
        fn, sql = reg[name]
        got = os.path.join(got_dir, f"{name}.pkl")
        fn(spark, sf_dir).toPandas().to_pickle(got)
        manifest.append({"name": name, "sql": sql, "sf_dir": sf_dir, "got": got})

    def finish_checks() -> dict[str, str]:
        if not manifest:
            return {}
        path = os.path.join(got_dir, "manifest.json")
        with open(path, "w") as f:
            json.dump(manifest, f)
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), path], capture_output=True, text=True, timeout=120
        )
        shutil.rmtree(got_dir)
        if proc.returncode != 0:
            return {e["name"]: f"oracle.py exited {proc.returncode}: {proc.stderr[-300:]}" for e in manifest}
        return {k: v for k, v in json.loads(proc.stdout.strip().splitlines()[-1]).items() if v}

    ops = [
        Op(
            name,
            layers,
            run=lambda fn=reg[name][0]: _noop(fn(spark, sf_dir)),
            check=lambda name=name: check(name),
        )
        for name, layers in names.items()
    ]
    return Workload(rows, size, ops, finish_checks=finish_checks)


#: registry query -> the layers it loads most (every geo query extracts first)
GEO_OPS = {
    "extract_mentions": "functions.extract",
    "tile_assign": "functions.extract operators.tiling cells.quadcell",
    "spatial_join_zones": "functions.extract operators.spatial_join geometry.ops",
    "knn_ring": "functions.extract operators.knn",
    "rasterize": "functions.extract operators.tiling",
}
ITERATIVE_OPS = {"dedup_components": "operators.dedup"}

#: copies of the sf0.01 documents in the geo_join input (500 pages each;
#: a page carries doc_id % 4 mentions)
GEO_COPIES = 4


def geo_group(spark, work: str, seed: int) -> Workload:
    sf_dir = os.path.join(work, "geo_join")
    rows, size = gen_tables.generate(sf_dir, seed, GEO_COPIES)
    return _registry_group(spark, GEO_OPS, sf_dir, rows, size)


def iterative_group(spark, work: str, seed: int) -> Workload:
    sf_dir = os.path.join(work, "iterative")
    rows, size = gen_tables.generate(sf_dir, seed, 1)
    return _registry_group(spark, ITERATIVE_OPS, sf_dir, rows, size)


# ---------------------------------------------------------------------------
# PBF ingest: DataSource -> checkpoint (interrupted, resumed), layers, stream
# ---------------------------------------------------------------------------

PBF_OPS = {
    "pbf_points": "sources.pbf_datasource sources.pbf plans.checkpoint",
    "checkpoint_resume": "plans.checkpoint sources.pbf_datasource sources.pbf",
    "pbf_multipolygons": "sources.pbf_datasource sources.pbf geometry.ops",
    "stream_drain": "sources.pbf",
}
#: osmpbf ``n_tasks`` (read stripes per file).  The default 16 fits files
#: of 16+ blobs; these hold 4 or 5, and each empty stripe still costs a
#: Python DataSource task (about 0.14 s on a 4-core VM)
PBF_STRIPES = 2


def _point_rows(rows) -> list[tuple]:
    return sorted(
        (r["id"], r["lon"], r["lat"], tuple(sorted(r["properties"].items())), os.path.basename(r["src_file"]))
        for r in rows
    )


def _layer_rows(rows) -> list[tuple]:
    return sorted(
        (r["id"], r["geometry"], tuple(sorted(r["properties"].items())), os.path.basename(r["src_file"]))
        for r in rows
    )


def _reference_layers(files: list[dict]) -> dict[str, list[tuple]]:
    """Driver-side decode of every file; also checks the decoded node
    coordinates against the generator's."""
    import json

    from pydriosm_spark.sources import pbf as P

    ref: dict[str, list[tuple]] = {"points": [], "multipolygons": []}
    for f in files:
        with open(f["path"], "rb") as fh:
            n, w, r = P.parse_pbf(fh.read())
        if [(i, la, lo) for i, la, lo, _t in n] != f["expected_nodes"]:
            raise AssertionError(f"decoded nodes of {f['path']} differ from the generated ones")
        base = os.path.basename(f["path"])
        for feat in P.LAYER_ASSEMBLERS["points"](n, w, r):
            lon, lat = feat["geometry"]["coordinates"]
            ref["points"].append((feat["id"], lon, lat, tuple(sorted(feat["properties"].items())), base))
        for feat in P.LAYER_ASSEMBLERS["multipolygons"](n, w, r):
            geom = json.dumps(feat["geometry"], separators=(",", ":"))
            ref["multipolygons"].append((feat["id"], geom, tuple(sorted(feat["properties"].items())), base))
    return {k: sorted(v) for k, v in ref.items()}


def _expect_equal(what: str, got: list, want: list) -> None:
    if got != want:
        raise AssertionError(f"{what}: {len(got)} rows differ from the {len(want)} reference rows")


def _check_offsets(f: dict) -> None:
    """The driver-side decode of an extract with negative lat/lon offsets
    should give the generator's coordinates."""
    from pydriosm_spark.sources import pbf as P

    with open(f["path"], "rb") as fh:
        got = [(i, la, lo) for i, la, lo, _t in P.parse_pbf(fh.read())[0]]
    want = f["expected_nodes"]
    if got != want:
        bad = [(g, w) for g, w in zip(got, want) if g != w]
        example = f", e.g. {bad[0][0]} for {bad[0][1]}" if bad else ""
        raise AssertionError(
            f"negative lat/lon offsets: {len(bad)} of {len(want)} nodes of "
            f"{os.path.basename(f['path'])} decode wrong ({len(got)} decoded){example}"
        )


def pbf_group(spark, work: str, seed: int) -> Workload:
    from pydriosm_spark.plans.checkpoint import PartitionedCheckpoint
    from pydriosm_spark.sources import pbf as P

    pbf_dir = os.path.join(work, "pbf")
    files = gen_pbf.generate(pbf_dir, seed)
    offsets_file = gen_pbf.generate_offset_check(os.path.join(work, "pbf_offsets"), seed)
    rows = sum(f["nodes"] + f["ways"] + f["relations"] for f in files)
    out = os.path.join(work, "pbf_out")
    half = len(files) // 2
    cache: dict[str, dict] = {}

    def ref() -> dict:
        if "ref" not in cache:
            cache["ref"] = _reference_layers(files)
        return cache["ref"]

    def points_df():
        return spark.read.format("osmpbf").option("layer", "points").option("n_tasks", PBF_STRIPES).load(pbf_dir)

    def ckpt() -> PartitionedCheckpoint:
        return PartitionedCheckpoint(os.path.join(out, "ckpt"), "src_file")

    def reset() -> None:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)

    def points() -> None:
        try:
            ckpt().run(points_df(), run_id="first", fail_after=half)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise AssertionError("fail_after did not interrupt the checkpoint run")

    def points_check() -> None:
        points()
        done = sorted(os.path.basename(v) for v in ckpt().committed())
        want = sorted(os.path.basename(f["path"]) for f in files)[:half]
        if done != want:
            raise AssertionError(f"interrupted run committed {done}, expected {want}")

    def resume() -> None:
        res = ckpt().run(points_df(), run_id="resume")
        if len(res.written_partitions) != len(files) - half:
            raise AssertionError(f"resume wrote {len(res.written_partitions)} partitions")

    def resume_check() -> None:
        resume()
        resumed = _point_rows(ckpt().read(spark).collect())
        clean = PartitionedCheckpoint(os.path.join(out, "clean"), "src_file")
        clean.run(points_df(), run_id="clean")
        _expect_equal("resumed vs clean checkpoint", resumed, _point_rows(clean.read(spark).collect()))
        _expect_equal("resumed checkpoint vs reference decode", resumed, ref()["points"])

    def multipolygons() -> None:
        spark.read.format("osmpbf").option("layer", "multipolygons").load(pbf_dir).write.mode("overwrite").parquet(
            os.path.join(out, "multipolygons")
        )

    def multipolygons_check() -> None:
        multipolygons()
        got = _layer_rows(spark.read.parquet(os.path.join(out, "multipolygons")).collect())
        _expect_equal("multipolygons layer vs reference decode", got, ref()["multipolygons"])

    #: the file that lands in the stream's watched directory
    landed = files[0]["path"]

    def drain() -> str:
        d = os.path.join(out, "stream")
        landing = os.path.join(d, "landing")
        os.makedirs(landing)
        shutil.copy(landed, os.path.join(landing, os.path.basename(landed)))
        q = (
            P.read_pbf_points_layer_stream(spark, landing)
            .writeStream.format("parquet")
            .option("path", os.path.join(d, "sink"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("stream drain exceeded 120 s")
        finally:
            q.stop()
        sink = spark.read.parquet(os.path.join(d, "sink"))
        _noop(sink)
        return os.path.join(d, "sink")

    def drain_check() -> None:
        got = _point_rows(spark.read.parquet(drain()).collect())
        batch = _point_rows(P.read_pbf_points_layer(spark, landed).collect())
        _expect_equal("stream vs batch points layer", got, batch)
        base = os.path.basename(landed)
        _expect_equal("stream vs reference decode", got, [r for r in ref()["points"] if r[4] == base])

    ops = [
        Op("pbf_points", PBF_OPS["pbf_points"], points, points_check),
        Op("checkpoint_resume", PBF_OPS["checkpoint_resume"], resume, resume_check),
        Op("pbf_multipolygons", PBF_OPS["pbf_multipolygons"], multipolygons, multipolygons_check),
        Op("stream_drain", PBF_OPS["stream_drain"], drain, drain_check),
    ]
    notes: list[str] = []

    def finish_checks() -> dict[str, str]:
        cache.clear()
        try:
            _check_offsets(offsets_file)
        except AssertionError as e:
            notes.append(f"sources.pbf.parse_block: {e}")
        return {}

    return Workload(rows, _dir_bytes(pbf_dir), ops, reset, finish_checks, notes)


#: workload name -> its groups, run in this order
WORKLOADS = {
    "geo_join": [geo_group],
    "iterative_ingest": [iterative_group, pbf_group],
}


#: every operation of every workload, for the per-layer metric names
ALL_OPS = [*GEO_OPS, *ITERATIVE_OPS, *PBF_OPS]


def build(name: str, spark, work: str, seed: int) -> Workload:
    """Generate the inputs of every group of workload ``name`` and
    return their operations as one workload."""
    groups = [g(spark, work, seed) for g in WORKLOADS[name]]

    def reset() -> None:
        for g in groups:
            g.reset()

    notes: list[str] = []

    def finish_checks() -> dict[str, str]:
        failures = {k: v for g in groups for k, v in g.finish_checks().items()}
        notes.extend(n for g in groups for n in g.notes)
        return failures

    return Workload(
        sum(g.input_rows for g in groups),
        sum(g.input_bytes for g in groups),
        [op for g in groups for op in g.ops],
        reset,
        finish_checks,
        notes,
    )


def timed(fn: Callable[[], None]) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0
