"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts only after the previous one has returned and been
checked. Inputs come from :mod:`gen`, seeded by the run's ``--seed``.

A workload exposes ``setup(root)`` (build every input dataset under a
fresh root), ``warmup()`` (untimed) and ``round()`` (one fixed-order
round of operations). Every operation appends a :class:`Sample`.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen
from spans import Tracer, dir_bytes


@dataclass
class Sample:
    label: str  # query class or stage name
    op: int  # the operation it belongs to: one read, or one whole pipeline
    latency_s: float
    rows: int
    ok: bool


class Workload:
    name = ""
    operation = "read"  # what one timed operation is: "read" or "stage"
    spans: tuple[str, ...] = ()  # spans ("name" or "parent>name") the traced phase must record
    round_s = 1.0  # nominal round time on the reference host; sets the rounds per phase

    def __init__(self, spark, tmp: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.errors: list[str] = []
        self.root = ""
        self.op = 0  # id of the current operation
        self.counters: dict[str, float] = {}  # per-layer counts, traced phase only
        self.user_row_bytes = 0  # in-memory size of user rows written, traced phase only

    def count(self, key: str, value: float) -> None:
        if self.tracer.enabled:
            self.counters[key] = self.counters.get(key, 0.0) + value

    def checksum_line(self) -> str:
        return ""

    def warmup(self) -> None:
        """One untimed round, so the JVM has compiled the measured paths.
        Timings are forgotten; a failed warm-up operation still counts."""
        self.round()
        self.samples = [s for s in self.samples if not s.ok]

    def timed(self, label: str, fn, check):
        """Run ``fn()``, time it, then ``check(result) -> (ok, rows)``.
        A raised error or a failed check counts as a failed operation."""
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # the loop must keep running to count failures
            self.samples.append(Sample(label, self.op, time.perf_counter() - t0, 0, False))
            self.errors.append(f"{label}: {type(exc).__name__}: {exc}"[:500])
            return None
        latency = time.perf_counter() - t0
        with self.tracer.span("bench.verify"):
            try:
                ok, rows = check(result)
            except Exception as exc:
                ok, rows = False, 0
                self.errors.append(f"{label} check: {type(exc).__name__}: {exc}"[:500])
        if not ok and len(self.errors) < 20:
            self.errors.append(f"{label}: wrong result")
        self.samples.append(Sample(label, self.op, latency, rows, ok))
        return result

    def space_amp(self) -> float:
        raise NotImplementedError


def space_amp(root: str, uuids) -> float:
    """Bytes on disk of the datasets (payload, indices, manifests,
    sidecars) over the bytes of their live payload files."""
    from kartothek_spark.core.manifest import DatasetManifest

    on_disk = live = 0
    for uuid in uuids:
        m = DatasetManifest.load(root, uuid)
        on_disk += dir_bytes(os.path.join(root, uuid))
        for name in os.listdir(root):
            if name.startswith(uuid + ".") and os.path.isfile(os.path.join(root, name)):
                on_disk += os.path.getsize(os.path.join(root, name))
        live += sum(os.path.getsize(p) for p in m.files())
    return on_disk / live


# -- lake_reads ---------------------------------------------------------------

N_EVENTS = 24_000
ROWS_PER_FILE = 750  # ~4 files per region, each a narrow ts range
READ_COLUMNS = ["event_id", "value"]


class LakeReads(Workload):
    name = "lake_reads"
    spans = ("read.table>manifest.load", "read.table>read.plan", "read.plan>index.query",
             "read.scan", "cube.query_plan>manifest.load", "cube.query_exec", "bench.verify")
    round_s = 3.0  # 4 rounds (28 reads) in a 10 s phase

    def setup(self, root: str) -> None:
        from kartothek_spark import store_dataframe_as_dataset
        from kartothek_spark.core.cube import Cube
        from kartothek_spark.cube.build import build_cube

        rng = np.random.default_rng([self.seed, 1])
        self.events = gen.events(rng, N_EVENTS, first_id=0)
        cube_in = gen.cube_inputs(rng)
        store_dataframe_as_dataset(
            self.spark, self.spark.createDataFrame(self.events), root, "events",
            partition_on=["region"], secondary_indices=["user_id"], stats_columns=["ts"],
            range_partition_by=["ts"], max_rows_per_file=ROWS_PER_FILE or None,
        )
        self.cube = Cube(dimension_columns=("cell",), partition_columns=("region",),
                         uuid_prefix="cube", seed_dataset="seed")
        t0 = time.perf_counter()
        build_cube(self.spark, {k: self.spark.createDataFrame(v) for k, v in cube_in.items()},
                   self.cube, root)
        self.cube_build_s = time.perf_counter() - t0
        self.cube_oracle = cube_in["seed"].merge(cube_in["scores"], on=["cell", "region"])
        self.root = root
        self.rng = np.random.default_rng([self.seed, 2])

    def space_amp(self) -> float:
        """Over the set-up datasets, which no read changes."""
        return space_amp(self.root, ["events", self.cube.ktk_dataset_uuid("seed"),
                                     self.cube.ktk_dataset_uuid("scores")])

    def round(self) -> None:
        for cls in gen.READ_CLASSES:
            self.op += 1
            q = gen.read_query(self.rng, cls, N_EVENTS)
            if cls == "cube":
                self.timed(cls, lambda: self._cube(q), lambda got: self._check_cube(q, got))
            else:
                self.timed(cls, lambda: self._read(q), lambda got: self._check_events(q, got))

    def _read(self, q):
        from kartothek_spark.dataset import read as ks_read

        df = ks_read.read_table(self.spark, self.root, "events", predicates=q, columns=READ_COLUMNS)
        with self.tracer.span("read.scan") as sp:
            got = df.toPandas()
            if sp is not None:
                sp.info["rows"] = len(got)
        return got

    def _check_events(self, q, got):
        want = self.events.loc[gen.dnf_mask(self.events, q), READ_COLUMNS].sort_values("event_id")
        got = got.sort_values("event_id")
        ok = (np.array_equal(got["event_id"].to_numpy(), want["event_id"].to_numpy())
              and np.array_equal(got["value"].to_numpy(), want["value"].to_numpy()))
        return ok, len(got)

    def _cube(self, q):
        from kartothek_spark.cube import query as ks_cube_query

        df = ks_cube_query.query_cube(self.spark, self.cube, self.root, conditions=q,
                                      payload_columns=["base", "score"])
        with self.tracer.span("cube.query_exec"):
            return df.select("cell", "region", "base", "score").toPandas()

    def _check_cube(self, q, got):
        want = self.cube_oracle[gen.dnf_mask(self.cube_oracle, q)].sort_values(["region", "cell"])
        got = got.sort_values(["region", "cell"])
        ok = all(np.array_equal(got[c].to_numpy(), want[c].to_numpy())
                 for c in ("cell", "region", "base", "score"))
        return ok, len(got)


# -- corpus_e2e ---------------------------------------------------------------

EXPORT_CHECKSUMS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "export_checksums.json")


class CorpusE2E(Workload):
    """Ingest -> clean -> near-dup detect and delete -> streamed second
    batch with an incremental MinHash index sync -> DSIR sample -> sharded
    export. One operation is one whole pipeline; each stage is timed."""

    name = "corpus_e2e"
    operation = "stage"
    spans = ("ops.ingest>write.store", "ops.clean>write.store", "write.store>index.build",
             "ops.dedup>dml.delete_rows", "dml.delete_rows>read.plan", "read.plan>index.query",
             "dml.delete_rows>write.update", "write.update>index.update",
             "ops.index_sync>stream.start", "ops.index_sync>stream.batch",
             "stream.batch>write.update", "write.update>manifest.commit",
             "write.store>manifest.commit", "ops.dsir>read.table", "ops.shard>write.store",
             "read.table>manifest.load", "bench.verify>read.scan")
    round_s = 15.0  # one pipeline per phase of up to 15 s

    def setup(self, root: str) -> None:
        from kartothek_spark import store_dataframe_as_dataset

        rng = np.random.default_rng([self.seed, 3])
        self.vocab = gen.vocabulary(rng)
        self.passages = gen.benchmark_passages(rng, self.vocab)
        self.bench_df = self.spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.arange(len(self.passages), dtype="int64"), "text": self.passages}))
        self.target_df = self.spark.createDataFrame(gen.dsir_target(rng, self.vocab))
        self.batch1, self.plants1 = gen.corpus(rng, gen.CORPUS_DOCS, 0, self.vocab, self.passages)
        self.batch2, self.plants2 = gen.corpus(rng, gen.CORPUS_APPEND, 1_000_000, self.vocab,
                                               self.passages)
        self.sample_k = (gen.CORPUS_DOCS + gen.CORPUS_APPEND) // 4
        # the dataset every pipeline run starts from
        store_dataframe_as_dataset(self.spark, self.spark.createDataFrame(self.batch1), root,
                                   "raw", partition_on=["lang"])
        self.root = root
        self.checksum: int | None = None
        with open(EXPORT_CHECKSUMS) as fh:
            expected = json.load(fh).get(str(self.seed))
        self.expected_checksum = int(expected, 16) if expected else None
        self.last_space_amp = 0.0

    def space_amp(self) -> float:
        """Over ``corpus`` (history kept, plus the streamed append) and
        ``clean`` (after the dedup delete) of the last untraced pipeline."""
        return self.last_space_amp

    def checksum_line(self) -> str:
        if self.checksum is None:
            return ""
        if self.expected_checksum is None:
            known = "no committed value"
        elif self.checksum == self.expected_checksum:
            known = "matches the committed value"
        else:
            known = "differs from the committed value"
        return f"perfbench: corpus_e2e seed={self.seed} export checksum {self.checksum:016x} ({known})"

    def round(self) -> None:
        """One full pipeline run in a fresh sub-root."""
        from kartothek_spark import read_table, store_dataframe_as_dataset
        from kartothek_spark.dataset.dml import delete_rows
        from kartothek_spark.operators.corpus import shard_corpus
        from kartothek_spark.operators.dedup import minhash_lsh_pairs
        from kartothek_spark.operators.dedup_index import sync_minhash_index
        from kartothek_spark.operators.dsir import dsir_resample
        from kartothek_spark.operators.pipeline import clean_corpus
        from kartothek_spark.streaming import update as ks_stream

        self.op += 1
        root = os.path.join(self.tmp, f"pipeline{self.op}")
        spark, t = self.spark, self.tracer
        parts: dict[str, object] = {}

        def ingest():
            with t.span("ops.ingest"):
                raw = read_table(spark, self.root, "raw")
                return store_dataframe_as_dataset(spark, raw, root, "corpus", partition_on=["lang"],
                                                  keep_history=True)

        self.timed("ingest", ingest, lambda m: self._check_ingest(root))

        def clean():
            with t.span("ops.clean"):
                cleaned = clean_corpus(read_table(spark, root, "corpus"), self.bench_df)
                # the doc_id index lets the dedup delete prune to the files it touches
                return store_dataframe_as_dataset(spark, cleaned, root, "clean", partition_on=["lang"],
                                                  secondary_indices=["doc_id"])

        self.timed("clean", clean, lambda m: self._check_clean(root, parts))

        def dedup():
            with t.span("ops.dedup"):
                pairs = minhash_lsh_pairs(read_table(spark, root, "clean")).toPandas()
                drop = sorted({int(b) for b in pairs["id_b"]})
                if drop:
                    delete_rows(spark, root, "clean", [[("doc_id", "in", drop)]])
                return pairs

        self.timed("dedup", dedup, lambda pairs: self._check_dedup(root, parts, pairs))

        def index_sync():
            with t.span("ops.index_sync"):
                first = sync_minhash_index(spark, root, "corpus", root, "mhidx").toPandas()
                self._stream_append(root, ks_stream)
                second = sync_minhash_index(spark, root, "corpus", root, "mhidx").toPandas()
                return first, second

        self.timed("index_sync", index_sync, lambda r: self._check_sync(root, *r))

        def dsir():
            with t.span("ops.dsir"):
                return dsir_resample(read_table(spark, root, "corpus", columns=["doc_id", "text"]),
                                     self.target_df, k=self.sample_k, seed=self.seed).toPandas()

        sample = self.timed("dsir", dsir, lambda s: self._check_dsir(s, parts))

        def shard():
            with t.span("ops.shard"):
                ids = spark.createDataFrame(pd.DataFrame({"doc_id": parts["sample"]}))
                picked = read_table(spark, root, "corpus").join(ids, "doc_id")
                return store_dataframe_as_dataset(spark, shard_corpus(picked, gen.N_SHARDS), root,
                                                  "shards", partition_on=["shard"])

        if sample is not None:
            self.timed("shard", shard, lambda m: self._check_shards(root, parts))
        if not self.tracer.enabled:
            self.last_space_amp = space_amp(root, ["corpus", "clean"])
        shutil.rmtree(root, ignore_errors=True)

    # -- stage helpers -------------------------------------------------------
    def _stream_append(self, root, ks_stream) -> None:
        """Second batch through the streaming sink (one availableNow run)."""
        src = os.path.join(root, "_stream_src")
        os.makedirs(src, exist_ok=True)
        self.batch2.to_parquet(os.path.join(src, "batch2.parquet"), index=False)
        stream = self.spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long").parquet(src)
        q = ks_stream.stream_update_dataset(stream, root, "corpus",
                                            checkpoint_dir=os.path.join(root, "_stream_ckpt"),
                                            trigger={"availableNow": True})
        with self.tracer.span("stream.batch"):
            q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")

    def _check_ingest(self, root):
        from kartothek_spark import read_table

        got = read_table(self.spark, root, "corpus", columns=["doc_id", "text"]).toPandas()
        want = self.batch1[["doc_id", "text"]]
        ok = got.sort_values("doc_id").reset_index(drop=True).equals(want.reset_index(drop=True))
        if self.tracer.enabled:
            self.user_row_bytes += int(self.batch1.memory_usage(deep=True).sum())
        return ok, len(self.batch1)

    def _check_clean(self, root, parts):
        from kartothek_spark import read_table

        got = set(read_table(self.spark, root, "clean", columns=["doc_id"]).toPandas()["doc_id"])
        df = self.batch1
        kept = df[gen.gopher_keep(df["text"]) & ~gen.contaminated(df["text"], self.passages)]
        # exact duplicates: only the smallest id of each identical text survives
        want = set(kept.groupby("text")["doc_id"].min())
        parts["clean"] = want
        self.count("ops.clean_keep_ratio", len(got) / len(df))
        return got == want, 0

    def _check_dedup(self, root, parts, pairs):
        from kartothek_spark import read_table

        ok = bool(((pairs["id_a"] < pairs["id_b"]) & (pairs["jaccard"] >= 0.5)).all())
        fam = _families(self.batch1, self.plants1)
        expected = _family_pairs(fam, parts["clean"])
        found = set(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
        ok &= found <= expected and len(found) >= 0.9 * len(expected)
        left = set(read_table(self.spark, root, "clean", columns=["doc_id"]).toPandas()["doc_id"])
        ok &= left == parts["clean"] - {b for _a, b in found}
        self.count("ops.dedup_pairs_n", len(found))
        return ok, 0

    def _check_sync(self, root, first, second):
        ok = True
        for pairs, batch, plants in ((first, self.batch1, self.plants1),
                                     (second, self.batch2, self.plants2)):
            fam = _families(batch, plants)
            expected = _family_pairs(fam, set(batch["doc_id"]))
            found = set(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
            ok &= found <= expected and len(found) >= 0.9 * len(expected)
        if self.tracer.enabled:
            self.user_row_bytes += int(self.batch2.memory_usage(deep=True).sum())
        return ok, len(self.batch2)

    def _check_dsir(self, sample, parts):
        ids = sample["doc_id"].astype(int)
        universe = set(self.batch1["doc_id"]) | set(self.batch2["doc_id"])
        ok = len(ids) == self.sample_k and ids.is_unique and set(ids) <= universe
        parts["sample"] = np.sort(ids.to_numpy()).astype("int64")
        return ok, 0

    def _check_shards(self, root, parts):
        """Read the export back shard by shard (partition-point reads)."""
        from kartothek_spark.dataset import read as ks_read

        seen = []
        ok = True
        for s in range(gen.N_SHARDS):
            df = ks_read.read_table(self.spark, root, "shards", predicates=[[("shard", "==", s)]],
                                    columns=["doc_id", "shard", "shard_pos"])
            with self.tracer.span("read.scan"):
                got = df.toPandas()
            ok &= bool((got["shard"] == s).all())
            seen.append(got)
        allrows = pd.concat(seen)
        ok &= np.array_equal(np.sort(allrows["doc_id"].to_numpy()), parts["sample"])
        checksum = _checksum(allrows[["doc_id", "shard", "shard_pos"]].to_numpy())
        if self.checksum is None:
            self.checksum = checksum
        ok &= checksum == self.checksum
        if self.expected_checksum is not None and checksum != self.expected_checksum:
            ok = False
            self.errors.append(f"export checksum {checksum:016x} differs from the committed "
                               f"{self.expected_checksum:016x} for seed {self.seed}")
        return ok, 0


def _families(batch: pd.DataFrame, plants: dict) -> dict[int, int]:
    """doc id -> family root for planted exact and near duplicates."""
    fam = {int(i): int(i) for i in batch["doc_id"]}
    for copy, src in itertools.chain(plants["exact"].items(), plants["near"].items()):
        fam[copy] = src
    return fam


def _family_pairs(fam: dict[int, int], alive: set) -> set[tuple[int, int]]:
    groups: dict[int, list[int]] = {}
    for i, root in fam.items():
        if i in alive:
            groups.setdefault(root, []).append(i)
    out = set()
    for members in groups.values():
        members.sort()
        out.update(itertools.combinations(members, 2))
    return out


def _checksum(rows: np.ndarray) -> int:
    """Order-independent checksum of integer rows: a wrapping sum of
    per-row mixes."""
    h = np.zeros(len(rows), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(rows.shape[1]):
            h = (h ^ rows[:, j].astype(np.uint64)) * np.uint64(0x9E3779B97F4A7C15)
            h ^= h >> np.uint64(29)
        return int(h.sum(dtype=np.uint64))


WORKLOADS = {w.name: w for w in (LakeReads, CorpusE2E)}
