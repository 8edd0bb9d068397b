"""The four workloads: seeded input generation, one full pass, and the
checks every pass's output must meet.

Inputs are generated here from the seed alone (no outside data). The work
is the same for every seed: entity counts, lines per order, document
lengths and the share of near-duplicate copies are fixed; the seed chooses the
id offset (and with it every coordinate), hot-key placement, page-to-file
layout, row order and document words. The program receives only the
generated files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

# seed-independent shape generator: the same work for every seed
_SHAPE_SEED = 20261017
ORDERS_PER_PAGE = 20  # synth_pages' default page packing
MAX_Z, MIN_Z = 12, 4  # the flagship chain's pyramid (bench.py)

SCALES = {
    # sized so that one run, set-up included, takes about a minute on a
    # 4-core box; pages_batch at twice its first size, since at 8 000 orders
    # its passes were mostly per-job overhead
    "full": {"orders": 16_000, "page_files": 16, "stream_orders": 2_000,
             "stream_files": 2, "docs": 3_000},
    # sf0.001-sized: the smoke test
    "smoke": {"orders": 1_500, "page_files": 4, "stream_orders": 600,
              "stream_files": 2, "docs": 500},
}


def _sum_hash(*cols):
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# ---------------------------------------------------------------- entities


class Orders:
    """lineitem-shaped (orderkey, linenumber) rows: one node per line, one
    way per order, ``ORDERS_PER_PAGE`` orders per page (sources.pages)."""

    def __init__(self, n_orders: int, seed: int):
        lines = np.random.default_rng(_SHAPE_SEED).integers(1, 8, n_orders)
        # disjoint per seed, a multiple of the page size (same page count)
        # and small enough that node_id * 2654435761 stays inside int64
        offset = (seed % 512 + 1) * 327_680
        starts = np.cumsum(lines) - lines
        self.okey = np.repeat(np.arange(n_orders, dtype=np.int64) + offset, lines)
        self.lineno = (np.arange(len(self.okey)) - np.repeat(starts, lines) + 1).astype(np.int64)
        self.n_ways = n_orders
        self.n_nodes = len(self.okey)
        self.pages = np.unique(self.okey // ORDERS_PER_PAGE)
        self.n_pages = len(self.pages)

    def write_lineitem(self, sf_dir: str) -> None:
        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(
            pa.table({"l_orderkey": self.okey,
                      "l_linenumber": self.lineno.astype(np.int32)}),
            os.path.join(sf_dir, "lineitem.parquet"),
        )


def synth_layout(spark, tracer, sf_dir: str, out: str, files: int, seed: int,
                 texts: dict | None = None) -> None:
    """synth_pages (the ``pages.synth`` span), then a seeded page-to-file
    layout and in-file order written by this process; ``texts`` (url ->
    text) replaces the page texts."""
    from osm_pbf_convert_spark.sources.pages import synth_pages

    raw = f"{out}_synth"
    with tracer.span("pages.synth", "pages"):
        synth_pages(spark, sf_dir).write.mode("overwrite").parquet(raw)
    t = pq.read_table(raw)
    shutil.rmtree(raw)
    t = t.set_column(t.schema.get_field_index("warc_ts"), "warc_ts",
                     t["warc_ts"].cast(pa.timestamp("us", tz="UTC")))
    if texts is not None:
        t = t.set_column(t.schema.get_field_index("text"), "text",
                         pa.array([texts[u] for u in t["url"].to_pylist()], pa.string()))
    t = t.take(np.random.default_rng(seed).permutation(t.num_rows))
    os.makedirs(out)
    n = t.num_rows
    for i in range(files):
        pq.write_table(t.slice(i * n // files, (i + 1) * n // files - i * n // files),
                       f"{out}/part-{i:05d}.parquet")


def _html_bytes(path: str) -> int:
    t = pq.read_table(path, columns=["html"])
    return int(pa.compute.sum(pa.compute.binary_length(t["html"])).as_py())


# ---------------------------------------------------------------- documents


def _vocabulary(n: int = 2000) -> list[str]:
    rng = np.random.default_rng(_SHAPE_SEED)
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words = set()
    while len(words) < n:
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 5))))
    return sorted(words)


def make_documents(n_docs: int, seed: int):
    """(doc_ids, texts): 70% distinct documents, 30% near-duplicate copies
    (one or two words replaced) of a seeded choice of them."""
    shape = np.random.default_rng(_SHAPE_SEED)
    n_base = int(n_docs * 0.7)
    lengths = shape.integers(20, 80, n_docs)
    n_edits = shape.integers(1, 3, n_docs)
    vocab = _vocabulary()
    rng = np.random.default_rng(seed)
    base = [list(rng.integers(0, len(vocab), lengths[i])) for i in range(n_base)]
    docs = [list(w) for w in base]
    parents = rng.integers(0, n_base, n_docs - n_base)
    for j, p in enumerate(parents):
        words = list(base[p])
        for pos in rng.integers(0, len(words), n_edits[n_base + j]):
            words[pos] = rng.integers(0, len(vocab))
        docs.append(words)
    texts = [" ".join(vocab[w] for w in d) for d in docs]
    order = rng.permutation(n_docs)
    ids = rng.permutation(n_docs).astype(np.int64) + (seed % 1000 + 1) * 1_000_000
    return ids[order], [texts[i] for i in order]


def union_find_labels(pairs) -> dict:
    """node -> minimum id of its connected component (in-process oracle)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# ---------------------------------------------------------------- workloads


class Workload:
    name = ""
    uses_pages = False
    nominal_pass_s = 4.0  # warm pass on 4 cores at the full scale: sizes the window

    def __init__(self, scale: dict, seed: int, cores: int):
        self.scale, self.seed, self.cores = scale, seed, cores
        self.input_bytes = 0

    def check(self, obs: dict, first: dict | None) -> list[str]:
        raise NotImplementedError

    def after_pass(self, spark, obs: dict) -> None:
        """Untimed follow-up of a pass (checksums, clean-up)."""

    def warm_up(self, spark) -> None:
        """The last step of set-up: spawns the Python workers and compiles
        a shuffle once."""
        (spark.range(0, 20_000, numPartitions=self.cores).mapInArrow(lambda it: it, "id long")
         .groupBy((F.col("id") % 7).alias("k")).count().collect())

    def decompose(self, spark, tracer) -> dict:
        """Traced run only: layer calls timed apart from the pass."""
        return {}


def _expect(fails: list, what: str, got, want) -> None:
    if got != want:
        fails.append(f"{what}: got {got}, want {want}")


class PagesBatch(Workload):
    """decode_entities -> parquet -> resolve_ways -> tile_pyramid z12..4 ->
    heat_map -> join_pages_geo over seeded pages (uniform refs)."""

    name = "pages_batch"
    uses_pages = True
    nominal_pass_s = 3.5

    def generate(self, spark, d: str, tracer):
        self.orders = Orders(self.scale["orders"], self.seed)
        self.orders.write_lineitem(f"{d}/sf")
        self.pages_path = f"{d}/pages"
        synth_layout(spark, tracer, f"{d}/sf", self.pages_path, self.scale["page_files"], self.seed)
        self.input_bytes = _html_bytes(self.pages_path)
        self.scratch = d

    def warm_up(self, spark) -> None:
        """The chain itself over one of the page files: its plans,
        generated code and Python imports warm up in every set-up, so
        that the timed passes start nearer their steady state."""
        from tracing import Tracer

        self.run_pass(spark, Tracer("warm-up"), f"{self.pages_path}/part-00000.parquet")

    def run_pass(self, spark, tracer, pages_path: str | None = None) -> dict:
        from osm_pbf_convert_spark.operators.joins import join_pages_geo, resolve_ways
        from osm_pbf_convert_spark.operators.tiling import heat_map, tile_pyramid
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        obs = {}
        pages = spark.read.parquet(pages_path or self.pages_path)
        ent_path = f"{self.scratch}/entities"
        with tracer.span("pbf.decode_sink", "pbf"):
            decode_entities(pages.coalesce(self.cores)).write.mode("overwrite").parquet(ent_path)
            ent = spark.read.parquet(ent_path)
            obs["kinds"] = {r["kind"]: r["n"] for r in
                            ent.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()}
        obs["entities_mb"] = du_mb(ent_path)
        nodes = ent.filter(F.col("kind") == 0).select("url", "id", "lat", "lon", "ilat", "ilon", "tags")
        ways = ent.filter(F.col("kind") == 1).select("url", "id", "refs", "tags")
        with tracer.span("joins.resolve", "joins"):
            res = resolve_ways(ways.drop("url"), nodes.drop("url"), keep_tags=False)
            obs["resolve_plan"] = res._jdf.queryExecution().executedPlan().toString()
            r = res.agg(F.count(F.lit(1)).alias("n"), F.sum("n_resolved").alias("refs"),
                        F.sum(F.size("nodes")).alias("arr"), _sum_hash(*res.columns).alias("h")).first()
            obs["resolve"] = (r["n"], r["refs"], r["arr"])
            obs["h_resolve"] = str(r["h"])
        with tracer.span("tiling.pyramid", "tiling"):
            pyr = tile_pyramid(nodes, max_z=MAX_Z, min_z=MIN_Z)
            rows = pyr.groupBy("z").agg(F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("n"),
                                        _sum_hash("tile", "cnt").alias("h")).collect()
            obs["pyramid"] = {r["z"]: r["s"] for r in rows}
            obs["tiles_out"] = sum(r["n"] for r in rows)
            obs["h_pyramid"] = str(sum(int(r["h"]) for r in rows))
        with tracer.span("tiling.heat_map", "tiling"):
            h = heat_map(nodes).agg(F.sum("cnt").alias("s"), _sum_hash("row", "col", "cnt").alias("h")).first()
            obs["heat_sum"], obs["h_heat"] = h["s"], str(h["h"])
        with tracer.span("joins.pages_geo", "joins"):
            g = join_pages_geo(pages, nodes).agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_geo").alias("g"),
                F.sum(F.length("html") + F.length("text")).alias("b"),
                _sum_hash("url", "n_geo", "min_ilat", "max_ilat", "min_ilon", "max_ilon").alias("h"),
            ).first()
            obs["pages_geo"] = (g["n"], g["g"], g["b"])
            obs["h_pages_geo"] = str(g["h"])
        return obs

    def check(self, obs, first):
        o, fails = self.orders, []
        _expect(fails, "decoded node/way counts", obs["kinds"], {0: o.n_nodes, 1: o.n_ways})
        # every ref of a synthesized way names a node of its own page
        _expect(fails, "resolved ways, resolved refs, array refs", obs["resolve"],
                (o.n_ways, o.n_nodes, o.n_nodes))
        _expect(fails, "tile count per zoom", obs["pyramid"],
                {z: o.n_nodes for z in range(MIN_Z, MAX_Z + 1)})
        _expect(fails, "heat map total", obs["heat_sum"], o.n_nodes)
        _expect(fails, "pages_geo rows, geo nodes", obs["pages_geo"][:2], (o.n_pages, o.n_nodes))
        _check_stable(fails, obs, first)
        return fails

    def decompose(self, spark, tracer) -> dict:
        out = _decode_layers(spark, tracer, self.pages_path, self.cores)
        # the same payloads as one standalone .osm.pbf, for the framing layer
        path = f"{self.scratch}/pages.osm.pbf"
        write_osm_pbf(path, pq.read_table(self.pages_path, columns=["html"])["html"].to_pylist())
        out.update(_framing_layer(spark, tracer, path, self.cores))
        return out


def write_osm_pbf(path: str, payloads) -> None:
    """An OSMHeader frame, then the already framed payloads."""
    from osm_pbf_convert_spark.sources.pbf_encoder import field_bytes, frame_blob

    header = field_bytes(4, b"OsmSchema-V0.6") + field_bytes(4, b"DenseNodes")
    with open(path, "wb") as f:
        f.write(frame_blob(header, blob_type="OSMHeader"))
        for p in payloads:
            f.write(p)


def _check_stable(fails, obs, first):
    """The same input must give the same output bytes on every pass."""
    if first is None:
        return
    for k in obs:
        if k.startswith("h_") and obs[k] != first[k]:
            fails.append(f"{k} differs from the first pass")


def _decode_layers(spark, tracer, pages_path: str, cores: int) -> dict:
    """Split decode into parse (one Python process, no Spark), the Arrow
    boundary (identity mapInArrow) and full decode to a noop sink, all
    over the same payloads."""
    import time

    from osm_pbf_convert_spark.sources.pbf import decode_entities, parse_payload

    out = {}
    payloads = pq.read_table(pages_path, columns=["html"])["html"].to_pylist()
    with tracer.span("pbf.parse_cpu", "pbf"):
        t0 = time.process_time()
        for p in payloads:
            parse_payload(p)
        out["pbf.parse_cpu_s"] = time.process_time() - t0
    pages = spark.read.parquet(pages_path)
    with tracer.span("pbf.arrow_boundary", "pbf") as sp:
        pages.select("html").coalesce(cores).mapInArrow(lambda it: it, "html binary") \
            .write.format("noop").mode("overwrite").save()
    out["pbf.arrow_boundary_s"] = sp["end"] - sp["start"]
    bad = spark.sparkContext.accumulator(0)
    with tracer.span("pbf.decode_noop", "pbf") as sp:
        decode_entities(pages.coalesce(cores), on_error="skip", bad_counter=bad) \
            .write.format("noop").mode("overwrite").save()
    out["pbf.decode_noop_s"] = sp["end"] - sp["start"]
    out["pbf.bad_payloads"] = bad.value
    return out


class PbfExtract(Workload):
    """read_pbf_entities (byte-range framing) -> parquet -> resolve_ways
    (a seeded share of refs on a few hot node ids, some refs missing) ->
    heat_map, over one standalone .osm.pbf."""

    name = "pbf_extract"
    nominal_pass_s = 4.5
    HOT_IDS, HOT_SHARE, MISSING_SHARE = 4, 0.25, 0.05

    def generate(self, spark, d: str, tracer):
        from osm_pbf_convert_spark.sources.pages import ilat_np, ilon_np, node_id_np
        from osm_pbf_convert_spark.sources.pbf_encoder import (
            DenseNodesSpec, WaySpec, encode_primitive_block, frame_blob,
        )

        o = self.orders = Orders(self.scale["orders"], self.seed)
        rng = np.random.default_rng(self.seed)
        nids = node_id_np(o.okey, o.lineno)
        refs = nids.copy()  # way refs in (okey, lineno) order = the node order
        n = len(refs)
        pick = rng.permutation(n)
        n_hot, n_miss = int(n * self.HOT_SHARE), int(n * self.MISSING_SHARE)
        hot = rng.choice(nids, self.HOT_IDS, replace=False)
        refs[pick[:n_hot]] = hot[rng.integers(0, self.HOT_IDS, n_hot)]
        # ids past every node id: never resolve
        refs[pick[n_hot:n_hot + n_miss]] = nids.max() + 1 + np.arange(n_miss)
        way_starts = np.flatnonzero(np.r_[True, o.okey[1:] != o.okey[:-1]])
        resolved = np.isin(refs, nids)
        per_way = np.add.reduceat(resolved.astype(np.int64), way_starts)
        self.hot = [int(h) for h in hot]
        self.expect_resolve = (int((per_way > 0).sum()), int(resolved.sum()),
                               int(np.isin(refs, hot).sum()))
        ila, ilo = ilat_np(nids), ilon_np(nids)
        # aim at the centre of each int32 bucket, as sources.pages does, so
        # decode -> degrees -> requantise gives ilat/ilon back exactly
        raw_lat = np.round((ila + np.where(ila >= 0, 0.25, -0.25)) * 180.0 / 2147483647 * 1e9).astype(np.int64)
        raw_lon = np.round((ilo + np.where(ilo >= 0, 0.25, -0.25)) * 180.0 / 2147483647 * 1e9).astype(np.int64)
        page_of = o.okey // ORDERS_PER_PAGE
        bounds = np.flatnonzero(np.r_[True, page_of[1:] != page_of[:-1], True])
        frames = []
        for p in range(len(bounds) - 1):
            s, e = bounds[p], bounds[p + 1]
            dense = DenseNodesSpec(
                ids=nids[s:e].tolist(), lats_raw=raw_lat[s:e].tolist(), lons_raw=raw_lon[s:e].tolist(),
                tags=[{"amenity": "cafe"} if int(x) % 10 == 0 else {} for x in nids[s:e]],
            )
            ways = []
            for ws in way_starts[(way_starts >= s) & (way_starts < e)]:
                we = ws + 1
                while we < e and o.okey[we] == o.okey[ws]:
                    we += 1
                ok = int(o.okey[ws])
                ways.append(WaySpec(id=ok, refs=refs[ws:we].tolist(),
                                    tags={"highway": "residential"} if ok % 2 == 0 else {"building": "yes"}))
            compress = p % 3 == 0
            frames.append(frame_blob(encode_primitive_block(dense=dense, granularity=1), compress=compress)
                          + frame_blob(encode_primitive_block(ways=ways, granularity=1), compress=compress))
        os.makedirs(d, exist_ok=True)
        self.pbf_path = f"{d}/extract.osm.pbf"
        write_osm_pbf(self.pbf_path, [frames[i] for i in rng.permutation(len(frames))])
        self.input_bytes = os.path.getsize(self.pbf_path)
        self.split_bytes = split_bytes_for(self.input_bytes, self.cores)
        self.scratch = d

    def run_pass(self, spark, tracer) -> dict:
        from osm_pbf_convert_spark.operators.joins import resolve_ways
        from osm_pbf_convert_spark.operators.tiling import heat_map
        from osm_pbf_convert_spark.sources.pbf_file import read_pbf_entities

        obs = {}
        ent_path = f"{self.scratch}/entities"
        with tracer.span("pbf.decode_sink", "pbf"):
            read_pbf_entities(spark, self.pbf_path, split_bytes=self.split_bytes) \
                .write.mode("overwrite").parquet(ent_path)
            ent = spark.read.parquet(ent_path)
            obs["kinds"] = {r["kind"]: r["n"] for r in
                            ent.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()}
        obs["entities_mb"] = du_mb(ent_path)
        nodes = ent.filter(F.col("kind") == 0).select("id", "ilat", "ilon", "tags")
        ways = ent.filter(F.col("kind") == 1).select("id", "refs", "tags")
        hot = F.array(*[F.lit(h) for h in self.hot])
        with tracer.span("joins.resolve", "joins"):
            res = resolve_ways(ways, nodes, keep_tags=False)
            obs["resolve_plan"] = res._jdf.queryExecution().executedPlan().toString()
            r = res.agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_resolved").alias("refs"),
                F.sum(F.size(F.filter("nodes", lambda x: F.array_contains(hot, x["id"])))).alias("hot"),
                _sum_hash(*res.columns).alias("h"),
            ).first()
            obs["resolve"] = (r["n"], r["refs"], r["hot"])
            obs["h_resolve"] = str(r["h"])
        with tracer.span("tiling.heat_map", "tiling"):
            h = heat_map(nodes).agg(F.sum("cnt").alias("s"), _sum_hash("row", "col", "cnt").alias("h")).first()
            obs["heat_sum"], obs["h_heat"] = h["s"], str(h["h"])
        return obs

    def check(self, obs, first):
        o, fails = self.orders, []
        _expect(fails, "decoded node/way counts", obs["kinds"], {0: o.n_nodes, 1: o.n_ways})
        _expect(fails, "resolved ways, resolved refs, hot refs", obs["resolve"], self.expect_resolve)
        _expect(fails, "heat map total", obs["heat_sum"], o.n_nodes)
        _check_stable(fails, obs, first)
        return fails

    def decompose(self, spark, tracer) -> dict:
        return _framing_layer(spark, tracer, self.pbf_path, self.cores)


def split_bytes_for(size: int, cores: int) -> int:
    """Byte-range splits sized to the file: two per core."""
    return max(64 << 10, -(-size // (2 * cores)))


def _framing_layer(spark, tracer, path: str, cores: int) -> dict:
    """pbf_blob_frames alone over a standalone .osm.pbf."""
    from osm_pbf_convert_spark.sources.pbf_file import pbf_blob_frames

    size = os.path.getsize(path)
    split = split_bytes_for(size, cores)
    with tracer.span("pbf_file.frames", "pbf_file") as sp:
        n_frames = pbf_blob_frames(spark, path, split).count()
    return {
        "pbf_file.frames_s": sp["end"] - sp["start"],
        "pbf_file.frames": n_frames,
        "pbf_file.splits": -(-size // split),
        "pbf_file.mb_read": size / 2**20,
    }


class StreamPages(Workload):
    """Seeded pages with document texts, split into landing files and
    replayed availableNow through run_streaming_pipeline (package
    defaults, one file per trigger)."""

    name = "stream_pages"
    uses_pages = True
    nominal_pass_s = 9.5

    def generate(self, spark, d: str, tracer):
        o = self.orders = Orders(self.scale["stream_orders"], self.seed)
        o.write_lineitem(f"{d}/sf")
        # rehearsal-style texts: planted near-duplicate documents, one per
        # page (templated page texts make LSH pairs quadratic)
        _, texts = make_documents(o.n_pages, self.seed)
        urls = [f"https://example.org/p/{int(p):010d}" for p in o.pages]
        self.landing = f"{d}/landing"
        synth_layout(spark, tracer, f"{d}/sf", self.landing, self.scale["stream_files"],
                     self.seed, dict(zip(urls, texts)))
        self.input_bytes = _html_bytes(self.landing)
        self.scratch = d
        self.n_pass = 0

    def run_pass(self, spark, tracer) -> dict:
        from osm_pbf_convert_spark.streaming.pipeline import run_streaming_pipeline

        self.n_pass += 1
        out, ck = f"{self.scratch}/out{self.n_pass}", f"{self.scratch}/ck{self.n_pass}"
        mark = self.listener.mark()
        with tracer.span("stream.replay", "stream") as sp:
            summary = run_streaming_pipeline(
                spark, out=out, checkpoint=ck, pages_dir=self.landing,
                source_options={"maxFilesPerTrigger": 1},
            )
        runs, prog = self.listener.since(mark)
        stages = dict(zip(runs, ("decode", "tiles", "pages_geo", "dedup")))
        batches = [p for p in prog if p["rows"] > 0 and p["run_id"] in stages]
        for run_id, stage in stages.items():
            mine = [p for p in prog if p["run_id"] == run_id]
            if mine:
                start = max(sp["start"], min(p["start"] for p in mine))
                end = min(sp["end"], max(p["start"] + p["duration_s"] for p in mine))
                tracer.add(f"stream.{stage}", "stream", start, end, sp["id"])
        obs = {
            "summary": {k: summary.get(k) for k in
                        ("n_entities", "n_tile_rows", "n_pages_geo", "n_dup_pairs_distinct")},
            "batch_s": [p["duration_s"] for p in batches],
            "state_rows": max((p["state_rows"] for p in batches), default=0),
            "rows_per_s": [p["rows_per_s"] for p in batches],
            "tile_table_mb": du_mb(f"{out}/tiles_finest"),
            "stages": sorted(set(stages.values())),
            "run_ids": list(stages),
        }
        obs["out"], obs["ck"] = out, ck
        return obs

    def after_pass(self, spark, obs: dict) -> None:
        """Parity checksums (outside the pass wall), then clean-up."""
        obs.update(self._checksums(spark, obs["out"]))
        shutil.rmtree(obs.pop("out"), ignore_errors=True)
        shutil.rmtree(obs.pop("ck"), ignore_errors=True)

    @staticmethod
    def _checksums(spark, out: str) -> dict:
        """The parity checksums of tools/stream_pipeline_rehearsal.py,
        restated here so that the benchmark's checks change only with the
        benchmark."""
        ent = spark.read.parquet(f"{out}/entities").filter(F.col("kind") <= 2)
        return {
            "entities": _entity_checksum(ent),
            "tiles": _tile_checksum(spark.read.parquet(f"{out}/tiles")),
            "pages_geo": _geo_checksum(spark.read.parquet(f"{out}/pages_geo")),
            "dup_pairs": _pair_checksum(spark.read.parquet(f"{out}/dup_pairs").select("a", "b").distinct()),
        }

    @staticmethod
    def lsh() -> dict:
        """dedup_query's own LSH defaults: the pipeline runs with package
        defaults, so the batch reference must too."""
        import inspect

        from osm_pbf_convert_spark.streaming.pipeline import dedup_query

        return {k: v.default for k, v in inspect.signature(dedup_query).parameters.items()
                if k in ("num_hashes", "bands", "shingle_k")}

    def reference(self, spark) -> dict:
        """The batch operators' answers over the same pages."""
        from osm_pbf_convert_spark.operators.dedup import minhash_lsh_pairs
        from osm_pbf_convert_spark.operators.joins import join_pages_geo
        from osm_pbf_convert_spark.operators.tiling import tile_pyramid
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        pages = spark.read.parquet(self.landing)
        ent = decode_entities(pages, on_error="skip").persist()
        nodes = ent.filter(F.col("kind") == 0)
        docs = pages.select(F.xxhash64("url").alias("doc_id"), "text").filter(F.col("text").isNotNull())
        ref = {
            "entities": _entity_checksum(ent),
            "tiles": _tile_checksum(tile_pyramid(nodes, max_z=12, min_z=0)),
            "pages_geo": _geo_checksum(join_pages_geo(pages, nodes)),
            "dup_pairs": _pair_checksum(minhash_lsh_pairs(docs, **self.lsh()).select("a", "b")),
        }
        ent.unpersist()
        return ref

    def check(self, obs, first):
        fails = []
        o = self.orders
        _expect(fails, "streaming stages", obs["stages"], ["decode", "dedup", "pages_geo", "tiles"])
        _expect(fails, "entity count", obs["summary"]["n_entities"], o.n_nodes + o.n_ways)
        _expect(fails, "pages_geo rows", obs["summary"]["n_pages_geo"], o.n_pages)
        for k in ("entities", "tiles", "pages_geo", "dup_pairs"):
            _expect(fails, f"{k} checksum vs batch operators", obs[k], self.ref[k])
        return fails

    def decompose(self, spark, tracer) -> dict:
        """Decode split into its parts, then the batch dedup family over
        the same page texts: pairs, groups, survivors (checked)."""
        from osm_pbf_convert_spark.operators.dedup import minhash_lsh_pairs

        out = _decode_layers(spark, tracer, self.landing, self.cores)
        docs = spark.read.parquet(self.landing).select(F.xxhash64("url").alias("doc_id"), "text")
        with tracer.span("dedup.pairs", "dedup"):
            pairs = minhash_lsh_pairs(docs, **self.lsh()).localCheckpoint(eager=True)
        got = group_pairs(spark, tracer, pairs, docs)
        fails = []
        check_groups(fails, got, {r["doc_id"]: r["n"] for r in
                                  docs.select("doc_id", F.length("text").alias("n")).collect()})
        if fails:
            raise RuntimeError(f"batch dedup groups over the page texts: {fails}")
        out.update({"dedup.pairs_out": len(got["pairs"]), "graph.rounds": got["rounds"],
                    "graph.final_edges": got["final_edges"]})
        return out


def _entity_checksum(ent):
    return sorted(
        (r["kind"], r["n"], str(r["ids"])) for r in ent.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("id").cast("decimal(38,0)")).alias("ids"),
        ).collect()
    )


def _tile_checksum(tiles):
    r = tiles.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64("z", "tile").cast("decimal(38,0)") * F.col("cnt")).alias("h")).first()
    return (r["n"], str(r["h"]))


def _geo_checksum(geo):
    r = geo.agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("n_geo").cast("decimal(38,0)")).alias("g"),
                _sum_hash("url", "min_ilat", "max_ilat", "min_ilon", "max_ilon").alias("h")).first()
    return (r["n"], str(r["g"]), str(r["h"]))


def _pair_checksum(pairs):
    r = pairs.agg(F.count(F.lit(1)).alias("n"), _sum_hash("a", "b").alias("h")).first()
    return (r["n"], str(r["h"]))


class DedupDocs(Workload):
    """minhash_lsh_pairs (default hash) -> near_dup_groups ->
    dedup_survivors over seeded documents; no decode."""

    name = "dedup_docs"

    def generate(self, spark, d: str, tracer):
        self.ids, self.texts = make_documents(self.scale["docs"], self.seed)
        self.docs_path = f"{d}/documents"
        os.makedirs(self.docs_path)
        n = len(self.ids)
        for i in range(4):  # four files, seeded row order
            sl = slice(i * n // 4, (i + 1) * n // 4)
            pq.write_table(pa.table({"doc_id": self.ids[sl], "text": self.texts[sl]}),
                           f"{self.docs_path}/part-{i}.parquet")
        self.input_bytes = sum(len(t.encode()) for t in self.texts)
        self.length = {int(i): len(t) for i, t in zip(self.ids, self.texts)}

    def run_pass(self, spark, tracer) -> dict:
        from osm_pbf_convert_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(self.docs_path)
        with tracer.span("dedup.pairs", "dedup"):
            # materialised so that the pair and grouping layers time apart
            pairs = minhash_lsh_pairs(docs).localCheckpoint(eager=True)
        return group_pairs(spark, tracer, pairs, docs)

    def check(self, obs, first):
        fails = []
        check_groups(fails, obs, self.length)
        if first is not None:
            _expect(fails, "pairs equal to the first pass", sorted(obs["pairs"]), sorted(first["pairs"]))
        return fails


def group_pairs(spark, tracer, pairs, docs) -> dict:
    """near_dup_groups -> dedup_survivors over a pair stream, collected."""
    from osm_pbf_convert_spark.operators.graph import dedup_survivors, near_dup_groups

    got_pairs = [(r["a"], r["b"]) for r in pairs.collect()]
    stats: dict = {}
    with tracer.span("graph.cc", "graph"):
        labels = near_dup_groups(pairs, stats=stats)
        got_labels = {r["doc_id"]: r["component"] for r in labels.collect()}
    with tracer.span("graph.survivors", "graph"):
        surv = [(r["component"], r["survivor_id"], r["n_docs"])
                for r in dedup_survivors(docs, labels).collect()]
    return {"pairs": got_pairs, "labels": got_labels, "survivors": surv,
            "rounds": stats.get("rounds"), "final_edges": stats.get("final_edges")}


def check_groups(fails: list, obs: dict, length: dict) -> None:
    """Every pair's two ends share a label equal to their group's minimum
    id; one survivor per group: the longest text, ties to the lowest id."""
    if not obs["pairs"]:
        fails.append("no near-duplicate pairs found")
    want = union_find_labels(obs["pairs"])
    bad = [(a, b) for a, b in obs["pairs"]
           if not (obs["labels"].get(a) == obs["labels"].get(b) == want[a])]
    if bad:
        fails.append(f"{len(bad)} pairs whose ends do not share their group's minimum id, e.g. {bad[:3]}")
    _expect(fails, "labelled docs", set(obs["labels"]), set(want))
    members: dict = {}
    for doc, comp in want.items():
        members.setdefault(comp, []).append(doc)
    want_surv = sorted(
        (comp, min(ds, key=lambda x: (-length[x], x)), len(ds)) for comp, ds in members.items()
    )
    _expect(fails, "survivors", sorted(obs["survivors"]), want_surv)


WORKLOADS = {w.name: w for w in (PagesBatch, PbfExtract, StreamPages, DedupDocs)}
