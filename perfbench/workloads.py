"""The benchmark's workloads, built from four phases.

Each phase generates its inputs from the seed, opens them during set-up,
runs through the program's public functions, and checks the outputs
against what was planted or against the catalog's DuckDB oracles.
``Phase.run_pass`` returns (wall seconds, items, call latencies); wall
time covers the layer calls only, not the benchmark's own input writes
and output checks.

A workload runs two phases in one process. Every Spark process pays
about 20 s of JVM start and cold first jobs on a 4-core machine, so four
single-phase workloads would not fit the benchmark's time budget; the
pairing keeps the two halves of the system apart: the reference
system's cron jobs (stage-in ingest, nightly monitor) in one workload,
the curation layers (catalog kernels, rolling dedup gates) in the other.
For the same reason a traced run makes some calls an untraced pass
leaves out (the quarantine replay, the rename-aware reconciliation, a
third gate batch, the remaining catalog queries); each phase says which.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass

import pyarrow.dataset as ds

import gen
from harness import Bench, tree_size

CURATION_QUERIES = (
    "q_minhash_lsh", "q_near_dedup_jaccard", "q_dedup_clusters", "q_line_dedup",
    "q_text_stats", "q_pack_sequences", "q_ann_ivf", "q_multimodal_decode",
)
# Untraced passes run one query per kernel family that no other phase
# reaches (packing; product quantization and similarity; media codecs and
# perceptual hashes); the rest run in traced passes only, to keep a run
# inside the time budget. MinHash/LSH and line hashing also run
# incrementally in the rolling gates of every pass.
E2E_QUERIES = ("q_pack_sequences", "q_ann_ivf", "q_multimodal_decode")
# reject classes: per-layer metric suffix; the reason text is
# streaming.ingest.REASON_<SUFFIX>
REASONS = ("missing_data", "unknown_filetype", "checksum", "missing_header", "duplicate")
INGEST = "streaming.ingest"


def _reason_text(key: str) -> str:
    from dbbspark.streaming import ingest

    return getattr(ingest, f"REASON_{key.upper()}")


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _column(path: str, col: str) -> list:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=[col]).column(col).to_pylist()


class Phase:
    name = ""
    primary = ""  # what the call latencies are, when a workload reports them
    items = ""  # what the items count, when a workload reports their rate

    def __init__(self, work: str, seed: int, out_dir: str) -> None:
        self.work = work
        self.seed = seed
        self.out_dir = out_dir

    def prepare(self) -> None:
        """Generate inputs (before the session exists)."""

    def warm(self, spark) -> None:
        """Open the inputs; timed as part of set-up."""

    def run_pass(self, b: Bench, k: int) -> tuple[float, int, list[float]]:
        raise NotImplementedError

    def finish(self, b: Bench) -> None:
        """Checks that need the whole run (oracles, cross-pass digests)."""

    def probe(self, b: Bench) -> None:
        """Traced calls into the layers a pass reaches only indirectly."""


# --------------------------------------------------------------------------


class StageinIngest(Phase):
    """Fresh delivery, then re-presentation of archived names beside new
    arrivals; a traced run goes on to a quarantine replay after the
    operator fixed some checksum rejects."""

    name = "stagein_ingest"
    items = "files decided (archived or quarantined)"

    def __init__(self, work: str, seed: int, out_dir: str) -> None:
        super().__init__(work, seed, out_dir)
        self.sizes = gen.StageinSizes()
        self.plan = gen.stagein_plan(seed, self.sizes)

    def _cfg(self, root: str):
        from dbbspark.plans.keywords import parse_keyword_csv
        from dbbspark.streaming.ingest import IngestConfig

        return IngestConfig(
            notify_dir=os.path.join(root, "notify"),
            delivery_dir=os.path.join(root, "delivery"),
            archive_root=os.path.join(root, "archive"),
            registry_path=os.path.join(root, "registry"),
            quarantine_path=os.path.join(root, "quarantine"),
            keyword_schemas={"raw": parse_keyword_csv("EXPNUM,R,N\nOBSTYPE,Y,N\n")},
        )

    def prepare(self) -> None:
        self.template = os.path.join(self.work, "stagein", "template")
        gen.write_phase(self.plan.a, os.path.join(self.template, "notify"),
                        os.path.join(self.template, "delivery"), self.seed)

    def warm(self, spark) -> None:
        from dbbspark.sources.notify import read_notify_dir

        read_notify_dir(spark, os.path.join(self.template, "notify")).count()

    def _expect(self, b: Bench, phase: str, res, archived: int, reasons: dict[str, int]) -> None:
        got = dict(res.by_reason)
        want = {_reason_text(k): v for k, v in reasons.items() if v}
        b.check(f"{phase}.by_reason", got == want, f"got {got}, planted {want}")
        b.check(f"{phase}.archived", res.archived == archived, f"{res.archived} != {archived}")
        attempted = archived + sum(want.values())
        b.check(f"{phase}.ledger", res.archived + res.quarantined == attempted,
                f"{res.archived} + {res.quarantined} != {attempted}")

    def run_pass(self, b: Bench, k: int):
        from dbbspark.streaming.ingest import ingest_batch, replay_quarantine

        spark, plan, s = b.spark, self.plan, self.sizes
        root = os.path.join(self.work, "stagein", f"pass{k}")
        cfg = self._cfg(root)
        in_bytes = gen.write_phase(plan.a, cfg.notify_dir, cfg.delivery_dir, self.seed)
        rejects = dict(checksum=s.checksum, missing_header=s.missing_header,
                       unknown_filetype=s.unknown_filetype, missing_data=s.missing_data)

        fresh = b.call(f"{INGEST}.ingest_batch.fresh", ingest_batch, spark, cfg, task_id="fresh")
        dts = [b.last_dt]
        self._expect(b, "fresh", fresh, s.good, rejects)
        reg_a = _rows(cfg.registry_path)

        for d in (cfg.notify_dir, cfg.delivery_dir):
            shutil.rmtree(d)
        in_bytes += gen.write_phase(plan.b, cfg.notify_dir, cfg.delivery_dir, self.seed)
        rep = b.call(f"{INGEST}.ingest_batch.represent", ingest_batch, spark, cfg, task_id="represent")
        dts.append(b.last_dt)
        self._expect(b, "represent", rep, s.good, dict(rejects, duplicate=s.represented))
        reg_b = _rows(cfg.registry_path)
        b.check("represent.registry_rows", reg_b - reg_a == s.good,
                f"registry grew by {reg_b - reg_a}, {s.good} new files archived; "
                f"re-presented names must add 0 rows")

        results = [fresh, rep]
        wall = sum(dts)
        if b.trace:
            for name, text in plan.fixes.items():
                path = os.path.join(cfg.notify_dir, name + ".dbb")
                with open(path, "w") as f:
                    f.write(text)
                os.utime(path, (gen.STAGEIN_EPOCH, gen.STAGEIN_EPOCH))
            replay = b.call(f"{INGEST}.replay_quarantine", replay_quarantine, spark, cfg,
                            task_id="replay")
            self._expect(b, "replay", replay, s.fixed,
                         dict(rejects, checksum=s.checksum - s.fixed, duplicate=s.represented))
            results.append(replay)
        names = _column(cfg.registry_path, "filename")
        archived = sum(r.archived for r in results)
        b.check("registry.distinct", len(names) == len(set(names)) == archived,
                f"{len(names)} rows, {len(set(names))} distinct, {archived} archived")

        decided = sum(r.archived + r.quarantined for r in results)
        if b.tracer.enabled:
            b.note(f"{INGEST}.archived", archived)
            b.note(f"{INGEST}.quarantined", sum(r.quarantined for r in results))
            for key in REASONS:
                b.note(f"{INGEST}.by_reason.{key}",
                       sum(r.by_reason.get(_reason_text(key), 0) for r in results))
            b.note(f"{INGEST}.useful_frac", archived / decided)
            written = 0
            for sink, path in (("archive", cfg.archive_root), ("registry", cfg.registry_path),
                               ("quarantine", cfg.quarantine_path)):
                nbytes, nfiles = tree_size(path)
                written += nbytes
                b.note(f"{INGEST}.{sink}_bytes", nbytes)
                b.note(f"{INGEST}.{sink}_files", nfiles)
            b.note(f"{INGEST}.bytes_written_per_input_byte", written / in_bytes)
        shutil.rmtree(root)
        return wall, sum(r.archived + r.quarantined for r in (fresh, rep)), dts

    def probe(self, b: Bench) -> None:
        from dbbspark.sources.notify import read_stagein_pairs
        from dbbspark.streaming.ingest import classify_pairs

        spark = b.spark
        cfg = self._cfg(self.template)
        b.force("sources.notify.read_stagein_pairs",
                lambda: read_stagein_pairs(spark, cfg.notify_dir, cfg.delivery_dir))
        pairs = read_stagein_pairs(spark, cfg.notify_dir, cfg.delivery_dir)
        b.note("sources.notify.read_stagein_pairs.rows", pairs.count())
        b.force(f"{INGEST}.classify_pairs", lambda: classify_pairs(spark, cfg, pairs))


# --------------------------------------------------------------------------


def _duckdb(tables_dir: str, names: tuple[str, ...], spill: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{spill}'")
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{tables_dir}/{n}.parquet')")
    return con


class NightlyMonitor(Phase):
    """The cron monitor over a seeded `events` table: the four report
    pages built and written. The traced probe times ``build_report``
    alone (in a pass it runs inside ``write_report``, which adds only the
    page writes), the rename-aware reconciliation, and the views and
    anti-joins underneath."""

    name = "nightly_monitor"
    primary = "write_report calls (build_report plus writing the pages)"
    EVENTS = 20_000

    def prepare(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        gen.write_tables(self.tables, self.seed, {"events": self.EVENTS})

    def warm(self, spark) -> None:
        from dbbspark.tables import load_table

        load_table(spark, self.tables, "events").count()

    def run_pass(self, b: Bench, k: int):
        from dbbspark import monitor

        spark = b.spark
        out = os.path.join(self.work, "report", f"pass{k}")
        b.call("monitor.write_report", monitor.write_report, spark, self.tables, out, num_nites=14)
        dts = [b.last_dt]
        pages = sorted(os.listdir(out))
        b.check("report.pages", pages == ["exposures.html", "failures.html", "sne.html",
                                          "summary.html"]
                and all(os.path.getsize(os.path.join(out, p)) > 0 for p in pages), str(pages))
        shutil.rmtree(out)
        return dts[0], self.EVENTS, dts

    def finish(self, b: Bench) -> None:
        from pyspark.sql import functions as F

        from dbbspark import monitor
        from dbbspark.catalog import CATALOG, QuerySpec, load_all
        from dbbspark.queries.reconcile import extra_df, missing_df
        from dbbspark.verify import compare_query

        load_all()
        con = _duckdb(self.tables, ("events",), os.path.join(self.work, "duckdb"))

        def sides(spark, d):
            return missing_df(spark, d).withColumn("side", F.lit("missing")).unionByName(
                extra_df(spark, d).withColumn("side", F.lit("extra")))

        specs = (
            QuerySpec("monitor.nite_summary", monitor.nite_summary, CATALOG["q_group_count"].oracle),
            QuerySpec("reconcile.missing_extra", sides,
                      "SELECT side, nite, expnum, propid, obstype FROM ("
                      + CATALOG["q_reconcile_anti"].oracle + ") o"),
        )
        for spec in specs:
            res = compare_query(b.spark, con, spec, self.tables)
            b.check(f"oracle.{spec.name}", res["ok"] and res.get("spark_rows", 0) > 0,
                    f"{res['status']} {res.get('detail', '')}")
        con.close()

    def probe(self, b: Bench) -> None:
        from dbbspark import domain, monitor
        from dbbspark.queries import reconcile

        spark, t = b.spark, self.tables
        b.call("monitor.build_report", monitor.build_report, spark, t, num_nites=14)
        b.force("monitor.reconcile_with_renames", lambda: monitor.reconcile_with_renames(spark, t))
        b.force("domain.sispi", lambda: domain.sispi(spark, t))
        b.force("domain.desdm", lambda: domain.desdm(spark, t))
        for fn in (reconcile.missing_df, reconcile.extra_df):
            name = f"queries.reconcile.{fn.__name__}"
            b.force(name, lambda: fn(spark, t))
            b.note(f"{name}.rows", fn(spark, t).count())
        b.force("monitor.exposure_states", lambda: monitor.exposure_states(spark, t))
        b.force("monitor.nite_summary", lambda: monitor.nite_summary(spark, t))


# --------------------------------------------------------------------------


def _norm_line(line: str) -> str:
    """Python mirror of the line gate's hashing normal form."""
    return re.sub(r"\s+", " ", re.sub(r"\d+", "", line.lower())).strip()


def expected_line_output(batches: list[list[tuple[int, str]]], min_df: int = 2) -> dict[int, str]:
    """Reference for the streaming line gate: a line is dropped from a
    batch once its cumulative count (earlier batches + this one) reaches
    ``min_df``; blank lines always stay."""
    prior: dict[str, int] = {}
    out: dict[int, str] = {}
    for batch in batches:
        counts: dict[str, int] = {}
        for _id, text in batch:
            for line in text.split("\n"):
                n = _norm_line(line)
                if n:
                    counts[n] = counts.get(n, 0) + 1
        for doc_id, text in batch:
            kept = [ln for ln in text.split("\n")
                    if not _norm_line(ln) or counts[_norm_line(ln)] + prior.get(_norm_line(ln), 0) < min_df]
            out[doc_id] = "\n".join(kept)
        for n, c in counts.items():
            prior[n] = prior.get(n, 0) + c
    return out


class RollingDedup(Phase):
    """Micro-batches through the line gate and the near-duplicate gate,
    with the near-duplicate index compacted every ``COMPACT_EVERY``
    batches. An untraced pass runs ``BATCHES - 1`` batches, ending with a
    compaction; a traced pass adds one batch against the compacted
    index."""

    name = "rolling_dedup"
    primary = "micro-batches (both gates, plus compaction when due)"
    items = "documents through both gates"
    BATCHES = 3
    BATCH_DOCS = 150
    COMPACT_EVERY = 2

    def prepare(self) -> None:
        self.plan = gen.rolling_plan(self.seed, self.BATCHES, self.BATCH_DOCS)
        self.input_dir = os.path.join(self.work, "rolling", "input")
        self.paths = gen.write_batches(self.plan, self.input_dir)
        self.input_bytes = tree_size(self.input_dir)[0]
        self.digests: list[str] = []

    def warm(self, spark) -> None:
        spark.read.parquet(self.paths[0]).count()

    def run_pass(self, b: Bench, k: int):
        from dbbspark.maintenance import compact_gate_index
        from dbbspark.streaming import linededup, neardedup

        spark = b.spark
        root = os.path.join(self.work, "rolling", f"pass{k}")
        line_index, line_out = os.path.join(root, "line_index"), os.path.join(root, "line_out")
        near_index, near_out = os.path.join(root, "near_index"), os.path.join(root, "near_out")
        dts = []
        paths = self.paths if b.trace else self.paths[:-1]
        for i, path in enumerate(paths):
            batch = spark.read.parquet(path)
            b.call("streaming.linededup.process_batch", linededup.process_batch,
                   batch, i, line_index, line_out)
            t = b.last_dt
            b.call("streaming.neardedup.process_batch", neardedup.process_batch,
                   batch, i, near_index, near_out)
            t += b.last_dt
            if (i + 1) % self.COMPACT_EVERY == 0:
                before = tree_size(near_index)[1]
                backup = b.call("maintenance.compact_gate_index", compact_gate_index,
                                spark, near_index)
                t += b.last_dt
                shutil.rmtree(backup)
                b.note("maintenance.compact_gate_index.files_before", before)
                b.note("maintenance.compact_gate_index.files_after", tree_size(near_index)[1])
            dts.append(t)
        self._verify(b, line_out, near_out, len(paths))
        docs = len(paths) * self.BATCH_DOCS
        if b.tracer.enabled:
            b.note("streaming.linededup.process_batch.docs_in", docs)
            b.note("streaming.linededup.process_batch.docs_out", _rows(line_out))
            b.note("streaming.neardedup.process_batch.docs_in", docs)
            b.note("streaming.neardedup.process_batch.docs_out", _rows(near_out))
            b.note("streaming.linededup.index_rows", linededup.index_df(spark, line_index).count())
            b.note("streaming.neardedup.index_rows", _rows(near_index))
            versions = [d for d in os.listdir(line_index) if d.startswith("v=")]
            b.note("commit.snapshots_retained", len(versions))
            idx_bytes = idx_files = 0
            for d in (line_index, near_index):
                nbytes, nfiles = tree_size(d)
                idx_bytes, idx_files = idx_bytes + nbytes, idx_files + nfiles
            b.note("commit.index_bytes_per_input_byte", idx_bytes / self.input_bytes)
            b.note("commit.index_files", idx_files)
        shutil.rmtree(root)
        return sum(dts), docs, dts

    def _verify(self, b: Bench, line_out: str, near_out: str, n_batches: int) -> None:
        table = ds.dataset(line_out, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "text"]).to_pydict()
        got = dict(zip(table["doc_id"], table["text"]))
        batches = self.plan.batches[:n_batches]
        want = expected_line_output(batches)
        bad = [d for d in want if got.get(d) != want[d]]
        b.check("linededup.output", not bad and len(got) == len(want),
                f"{len(bad)} documents differ from the reference, e.g. {bad[:3]}")
        accepted = set(_column(near_out, "doc_id"))
        batch_of = {d: i for i, batch in enumerate(batches) for d, _ in batch}
        leaked = [c for c, o in self.plan.copies.items() if c in batch_of
                  and c in accepted and (o in accepted or batch_of[o] == batch_of[c])]
        b.check("neardedup.exact_copies_rejected", not leaked,
                f"planted exact copies accepted: {leaked[:5]}")
        digest = hashlib.sha256(json.dumps(
            [sorted(accepted), sorted(got.items())]).encode()).hexdigest()
        b.check("gates.deterministic_within_run", not self.digests or digest == self.digests[0],
                "accepted sets differ between passes of the same seed")
        self.digests.append(digest)
        self.digest_key = f"{self.seed}:{n_batches}x{self.BATCH_DOCS}"

    def finish(self, b: Bench) -> None:
        """Compare the accepted-set digest with earlier runs of the same
        seed in this checkout (the first run records it)."""
        path = os.path.join(self.out_dir, "rolling_digests.json")
        known = {}
        if os.path.exists(path):
            with open(path) as f:
                known = json.load(f)
        prev = known.setdefault(self.digest_key, self.digests[0])
        b.check("gates.deterministic_across_runs", prev == self.digests[0],
                f"seed {self.seed}: accepted sets differ from an earlier run")
        with open(path, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)


# --------------------------------------------------------------------------


class CurationQueries(Phase):
    """A fixed subset of the query catalog (``E2E_QUERIES`` untraced, all
    of ``CURATION_QUERIES`` traced). Each query's result is collected to
    the driver inside the timed call, and that result is what the check
    compares with the query's DuckDB oracle, so no query runs twice."""

    name = "curation_queries"
    DOCS = 500
    EMBEDDINGS = 500

    def prepare(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        gen.write_tables(self.tables, self.seed,
                         {"documents": self.DOCS, "embeddings": self.EMBEDDINGS})
        self.results: dict = {}

    def warm(self, spark) -> None:
        from dbbspark.catalog import load_all
        from dbbspark.tables import load_table

        load_all()
        for name in ("documents", "embeddings"):
            load_table(spark, self.tables, name).count()

    def run_pass(self, b: Bench, k: int):
        from dbbspark.catalog import CATALOG

        spark, dts = b.spark, []
        queries = CURATION_QUERIES if b.trace else E2E_QUERIES
        for q in queries:
            self.results[q] = b.call(f"catalog.{q}",
                                     lambda: CATALOG[q].builder(spark, self.tables).toPandas())
            dts.append(b.last_dt)
        return sum(dts), len(queries), dts

    def finish(self, b: Bench) -> None:
        """Same comparison as ``dbbspark.verify.compare_query``: column
        names, row count, then order-insensitive canonical values. Queries
        without an oracle get a row-count check."""
        from dbbspark.catalog import CATALOG
        from dbbspark.verify import _canon_frame

        con = _duckdb(self.tables, ("documents", "embeddings"), os.path.join(self.work, "duckdb"))
        for q, got in self.results.items():
            ok, detail = len(got) > 0, f"{len(got)} rows"
            if ok and CATALOG[q].oracle is not None:
                want = con.execute(CATALOG[q].oracle).fetchdf()
                ok = (sorted(got.columns) == sorted(want.columns) and len(got) == len(want)
                      and _canon_frame(got) == _canon_frame(want))
                detail = f"spark {len(got)} rows {sorted(got.columns)}, oracle {len(want)} rows"
            b.check(f"oracle.{q}", ok, detail)
        con.close()


@dataclass(frozen=True)
class Workload:
    """Phases run in order in every pass. ``items_per_s`` is the items of
    ``rate_phase`` per second of that phase; ``call_p50_s`` is the median
    call latency of ``calls_phase``."""

    name: str
    phases: tuple[type[Phase], ...]
    rate_phase: type[Phase]
    calls_phase: type[Phase]
    aliases: dict[str, str]  # generic metric -> workload-specific name


WORKLOADS = {w.name: w for w in (
    Workload("cron_ingest_monitor", (StageinIngest, NightlyMonitor), StageinIngest,
             NightlyMonitor, {"items_per_s": "files_per_s", "call_p50_s": "report_s"}),
    Workload("curation_dedup_queries", (CurationQueries, RollingDedup), RollingDedup,
             RollingDedup, {"items_per_s": "docs_per_s", "call_p50_s": "batch_p50_s"}),
)}


def _layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run
    reports, in BENCHMARK.json order. Full Spark counters are kept for the
    calls a pass makes directly; probes and catalog queries keep the
    counters an optimisation is most likely to move (the list is capped
    at 128; every call's full counters are in the span file)."""
    from sparkcounters import COUNTERS

    unit = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
            "executor_run_s": "s", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B"}
    spec: list[tuple[str, str, str]] = []

    def timed(name: str, counters=COUNTERS) -> None:
        spec.append((f"{name}.s", "s", "lower"))
        spec.extend((f"{name}.{c}", unit[c], "lower") for c in counters)

    for call in ("ingest_batch.fresh", "ingest_batch.represent", "replay_quarantine"):
        timed(f"{INGEST}.{call}")
    timed("sources.notify.read_stagein_pairs", ("jobs", "executor_run_s"))
    spec.append(("sources.notify.read_stagein_pairs.rows", "count", "higher"))
    timed(f"{INGEST}.classify_pairs", ("jobs", "executor_run_s"))
    spec += [(f"{INGEST}.archived", "count", "higher"), (f"{INGEST}.quarantined", "count", "lower")]
    spec += [(f"{INGEST}.by_reason.{r}", "count", "lower") for r in REASONS]
    spec += [(f"{INGEST}.useful_frac", "ratio", "higher"),
             (f"{INGEST}.bytes_written_per_input_byte", "ratio", "lower")]
    spec += [(f"{INGEST}.{sink}_{m}", u, "lower") for sink in ("archive", "registry", "quarantine")
             for m, u in (("bytes", "B"), ("files", "count"))]

    timed("monitor.write_report")
    timed("monitor.reconcile_with_renames")
    timed("monitor.build_report", ("jobs", "executor_run_s"))
    for name in ("domain.sispi", "domain.desdm", "queries.reconcile.missing_df",
                 "queries.reconcile.extra_df", "monitor.exposure_states", "monitor.nite_summary"):
        timed(name, ("jobs",))
    spec += [("queries.reconcile.missing_df.rows", "count", "higher"),
             ("queries.reconcile.extra_df.rows", "count", "higher")]

    for gate in ("linededup", "neardedup"):
        timed(f"streaming.{gate}.process_batch")
        spec += [(f"streaming.{gate}.process_batch.docs_in", "count", "higher"),
                 (f"streaming.{gate}.process_batch.docs_out", "count", "higher"),
                 (f"streaming.{gate}.index_rows", "count", "lower")]
    spec += [("commit.snapshots_retained", "count", "lower"),
             ("commit.index_bytes_per_input_byte", "ratio", "lower"),
             ("commit.index_files", "count", "lower")]
    timed("maintenance.compact_gate_index", ("jobs", "executor_run_s"))
    spec += [("maintenance.compact_gate_index.files_before", "count", "lower"),
             ("maintenance.compact_gate_index.files_after", "count", "lower")]

    for q in CURATION_QUERIES:
        timed(f"catalog.{q}", ("jobs",))
    spec.append(("trace.overhead_s", "s", "lower"))
    return spec


PER_LAYER = _layer_spec()
