"""The three benchmark workloads: ingest, cone and xmatch.

Each workload prepares its inputs outside the timing, opens the catalogs
it serves (the timed, repeated part of set-up), then runs operations
until their summed wall time reaches the run length.  Results are kept
for the oracles, which run after the timing.

Standing catalogs (the survey with margins, and the cross-match partner)
are built by the engine under test once per sky variant and source tree,
and cached under the work directory: a serving system opens catalogs
that already exist, and building them is what the ``ingest`` workload
measures.
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

SKY_VARIANTS = 2  # the standing sky is variant seed % SKY_VARIANTS
STANDING_KEYS = 2  # source trees whose standing catalogs stay cached
K_NEIGHBORS = 2
DTHRESH_DEG = 0.01
CONE_CLIENTS = 2
CONE_QUERY_POOL = 4096
FRESH_CONES = 2


@dataclass
class Op:
    """One timed operation and what its oracle needs."""

    kind: str
    index: int
    traced: bool = False
    t0: float = 0.0
    t1: float = 0.0
    latency: float = 0.0
    cpu: float = 0.0
    ok: bool = True
    error: str | None = None
    rows: int = 0
    result: object = None
    jobs: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)


def tree_bytes(*dirs: str) -> tuple[int, int]:
    """(regular files, bytes) under ``dirs``."""
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def file_state(d: str) -> dict[str, tuple[float, int]]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            st = os.stat(os.path.join(base, n))
            out[os.path.join(base, n)] = (st.st_mtime_ns, st.st_size)
    return out


def source_hash(root: str) -> str:
    """Digest of the engine's sources and the generator: a cached
    standing catalog is reused only by the code that built it."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "lsd2_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(os.path.dirname(__file__), "gen.py"))
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class Workload:
    name = ""
    clients = 1
    # untimed operations before the measured ones, so that every measured
    # operation runs warm (JIT-compiled code paths, started workers)
    warm_up_ops = 1
    # measured operations in a pass, even when they outlast the run length
    min_ops = 1

    def __init__(self, bench):
        self.b = bench
        self.spark = bench.spark
        self.prof = bench.prof

    # hooks ------------------------------------------------------------------
    def prepare(self) -> None:
        """Untimed: inputs, standing catalogs, oracle answers."""

    def open(self) -> None:
        """Timed set-up: make the catalogs ready to serve."""

    def run_op(self, op: Op) -> None:
        raise NotImplementedError

    def check(self, op: Op) -> None:
        """Set ``op.ok``/``op.error`` from the oracle."""

    # after_op(op): untimed work between operations (clean-up, trace
    # counts); only a single-client workload may define it, because the
    # CPU it uses is told apart from the operations' by time alone
    after_op = None

    def max_ops(self) -> int | None:
        return None

    def summary(self, ops: list[Op]) -> dict:
        """Workload-specific numbers for the detail line."""
        return {}

    def storage(self) -> tuple[int, int]:
        """(bytes of the catalog(s) served or written, bytes of their input)."""
        raise NotImplementedError

    # trace counts --------------------------------------------------------------
    def leaf_rows(self) -> dict:
        """Rows per leaf of the catalog the cone searches read."""
        if not hasattr(self, "_leaf_rows"):
            self._leaf_rows = oracle.leaf_counts(self.catalog_dir()[0])
        return self._leaf_rows

    def cone_hits(self, op: Op) -> list[int]:
        """Result rows of each cone search in ``op``, in call order."""
        return []

    def max_cell_work(self, cells) -> int:
        return 0

    def catalog_dir(self) -> tuple[str, str]:
        """(path, name) of the catalog whose layout the trace reports."""
        raise NotImplementedError

    # shared helpers ----------------------------------------------------------
    def standing(self) -> str:
        """Path of the cached standing catalogs for this seed's sky,
        built by the engine under test if missing."""
        import lsd2_spark.catalog as lcat

        sky = self.b.seed % SKY_VARIANTS
        key = f"{source_hash(self.b.root)}-{self.prof.survey_rows}-{self.prof.threshold}"
        root = os.path.join(self.b.work_root, "standing")
        final = os.path.join(root, key, f"sky{sky}")
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.utime(os.path.dirname(final))  # marks the key as the latest used
        if os.path.exists(os.path.join(final, "READY")):
            return final
        # keep the catalogs of one other key, so that runs alternating
        # between two source trees in one checkout both hit the cache
        others = sorted((d for d in glob.glob(os.path.join(root, "*"))
                         if os.path.basename(d) != key), key=os.path.getmtime)
        for old in others[:max(0, len(others) - (STANDING_KEYS - 1))]:
            shutil.rmtree(old, ignore_errors=True)
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        paths = gen.generate_sky(sky, os.path.join(tmp, "in"), self.prof)
        p = self.prof
        lcat.partition_catalog(
            self.spark.read.parquet(paths["survey"]), os.path.join(tmp, "survey"), "survey",
            threshold=p.threshold, order_k=p.order_k, write_margins=True)
        lcat.partition_catalog(
            self.spark.read.parquet(paths["partner"]), os.path.join(tmp, "partner"), "partner",
            threshold=p.threshold, order_k=p.order_k, write_margins=False)
        open(os.path.join(tmp, "READY"), "w").close()
        os.replace(tmp, final)
        self.b.info["standing_build_s"] = round(time.perf_counter() - t0, 3)
        return final


# -- ingest -------------------------------------------------------------------


class Ingest(Workload):
    """One operation is the write path end to end: ingest the seed's
    survey with margins, append one night's field to the new catalog,
    then run cone searches over that field, which must return the new
    rows (a read-side cache shows its invalidation cost and stale reads
    here)."""

    name = "ingest"
    # a write cycle takes 40-50 s, so a run measures one cold cycle
    warm_up_ops = 0

    def prepare(self):
        self.paths = gen.generate_sky(self.b.seed, os.path.join(self.b.work, "in"), self.prof,
                                      with_partner=False)
        survey = pq.read_table(self.paths["survey"])
        self.base = oracle.Positions.of(survey)
        self.batches = gen.generate_night(self.b.seed, survey, os.path.join(self.b.work, "in"),
                                          self.prof)
        tables = [pq.read_table(path) for path in self.batches]
        self.batch_pos = [oracle.Positions.of(t) for t in tables]
        self.cones = gen.field_cones(self.b.seed, tables, FRESH_CONES)
        self.last_out = None
        self.outputs = itertools.count()

    def open(self):
        self.df = self.spark.read.parquet(self.paths["survey"])

    def run_op(self, op):
        import lsd2_spark.catalog as lcat

        p = self.prof
        out = os.path.join(self.b.work, f"ingest_{next(self.outputs)}")
        batch = op.index % len(self.batches)
        op.result = {"dir": out, "batch": batch}
        t0 = time.perf_counter()
        cat = lcat.partition_catalog(self.df, out, "survey", threshold=p.threshold,
                                     order_k=p.order_k, write_margins=True)
        t1 = time.perf_counter()
        if op.traced:  # a file walk of about 10 ms, for the append's write counts
            op.extra["ingest_files"] = file_state(out)
        t2 = time.perf_counter()
        cat = cat.append(self.spark.read.parquet(self.batches[batch]))
        op.extra.update(ingest_s=t1 - t0, append_s=time.perf_counter() - t2, cone_s=[])
        op.result["cones"] = []
        for q in self.cones[batch]:
            t = time.perf_counter()
            op.result["cones"].append([r["id"] for r in cat.cone_search(*q).collect()])
            op.extra["cone_s"].append(time.perf_counter() - t)

    def after_op(self, op):
        if not op.result or "cones" not in op.result:
            return
        # checked here, before the next operation removes this output
        out, batch = op.result["dir"], op.result["batch"]
        errs = oracle.check_catalog(out, "survey", [self.paths["survey"], self.batches[batch]],
                                    self.prof.threshold, appended=self.batches[batch])
        pos = self.base.plus(self.batch_pos[batch])
        for q, got in zip(self.cones[batch], op.result["cones"]):
            want, edge = pos.cone(*q)
            if not oracle.same_set(got, want, edge):
                errs.append(f"fresh cone {q}: {len(got)} rows, want {len(want)}")
        if errs:
            op.ok, op.error = False, "; ".join(errs)
        before = op.extra.pop("ingest_files", None)
        if before is not None:
            now = file_state(out)
            changed = {f for f, st in now.items() if before.get(f) != st}
            op.extra.update(
                files_written=sum(1 for f in before if "/catalog/" in f or "/neighbor/" in f),
                bytes_written=sum(st[1] for f, st in before.items()
                                  if "/catalog/" in f or "/neighbor/" in f),
                cells_touched=len({os.path.dirname(f) for f in changed if "/catalog/" in f}),
                bytes_rewritten=sum(now[f][1] for f in changed),
                appended_rows=self.prof.night_rows,
                leaf_rows=oracle.leaf_counts(out))
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out, self.last_batch = out, self.batches[batch]

    def cone_hits(self, op):
        return [len(g) for g in op.result["cones"]]

    def summary(self, ops):
        done = [o for o in ops if "append_s" in o.extra]  # one that raised early has no times
        if not done:
            return {}
        med = lambda key: statistics.median(o.extra[key] for o in done)  # noqa: E731
        return {"ingest_rows_per_s": round(self.prof.survey_rows / med("ingest_s"), 1),
                "append_rows_per_s": round(self.prof.night_rows / med("append_s"), 1),
                "fresh_cone_ms_p50": round(1e3 * statistics.median(
                    t for o in done for t in o.extra["cone_s"]), 1),
                "batch_rows": self.prof.night_rows}

    def storage(self):
        return (tree_bytes(os.path.join(self.last_out, "catalog"),
                           os.path.join(self.last_out, "neighbor"))[1],
                os.path.getsize(self.paths["survey"]) + os.path.getsize(self.last_batch))

    def catalog_dir(self):
        return self.last_out, "survey"


# -- cone ---------------------------------------------------------------------


class Cone(Workload):
    name = "cone"
    clients = CONE_CLIENTS

    def prepare(self):
        self.dir = self.standing()
        survey = pq.read_table(os.path.join(self.dir, "in", "survey.parquet"))
        self.pos = oracle.Positions.of(survey)
        self.queries = gen.cone_queries(self.b.seed, survey, CONE_QUERY_POOL)

    def open(self):
        from lsd2_spark.catalog import Catalog

        self.cat = Catalog.load(self.spark, os.path.join(self.dir, "survey"), "survey")
        self.cat.df()

    def max_ops(self):
        return len(self.queries)

    def run_op(self, op):
        ra, dec, r = self.queries[op.index]
        rows = self.cat.cone_search(ra, dec, r).collect()
        op.result = [row["id"] for row in rows]
        op.rows = len(rows)

    def check(self, op):
        want, edge = self.pos.cone(*self.queries[op.index])
        if not oracle.same_set(op.result, want, edge):
            op.ok, op.error = False, f"cone {self.queries[op.index]}: {op.rows} rows, want {len(want)}"

    def cone_hits(self, op):
        return [op.rows]

    def summary(self, ops):
        return {"query_pool": len(self.queries), "result_rows": sum(o.rows for o in ops)}

    def storage(self):
        return (tree_bytes(os.path.join(self.dir, "survey"))[1],
                os.path.getsize(os.path.join(self.dir, "in", "survey.parquet")))

    def catalog_dir(self):
        return os.path.join(self.dir, "survey"), "survey"


# -- xmatch -------------------------------------------------------------------


class XMatch(Workload):
    name = "xmatch"
    # the JVM keeps compiling the join's code paths: CPU per cross-match
    # fell from 15 s to 11 s over the first three operations after one
    # warm-up on a 4-core box; and one operation's CPU varies by about 10%
    # (mostly in the Python workers' k-NN kernel), so a pass averages three
    warm_up_ops = 2
    min_ops = 3

    def prepare(self):
        self.dir = self.standing()
        self.left = oracle.Positions.of(pq.read_table(os.path.join(self.dir, "in", "survey.parquet")))
        self.right = oracle.Positions.of(pq.read_table(os.path.join(self.dir, "in", "partner.parquet")))
        self.want, self.edge = oracle.knn_pairs(self.left, self.right, K_NEIGHBORS, DTHRESH_DEG)

    def open(self):
        from lsd2_spark.catalog import Catalog

        self.cat = Catalog.load(self.spark, os.path.join(self.dir, "survey"), "survey")
        self.other = Catalog.load(self.spark, os.path.join(self.dir, "partner"), "partner")
        self.cat.df()
        self.other.df()

    def run_op(self, op):
        lazy = self.cat.cross_match(self.other, n_neighbors=K_NEIGHBORS, dthresh=DTHRESH_DEG)
        op.extra["plan_done"] = time.perf_counter()
        rows = lazy.collect()
        op.result = [(r["survey_id"], r["partner_id"]) for r in rows]
        op.rows = len(rows)

    def check(self, op):
        if not oracle.same_set(op.result, self.want, self.edge):
            op.ok, op.error = False, f"{op.rows} pairs, want {len(self.want)}"

    def max_cell_work(self, cells):
        """Left x right rows in the heaviest plan cell (halos left out),
        counted from the generated positions."""
        from lsd2_spark import healpix

        by_order = {}
        for o, p in cells:
            by_order.setdefault(o, []).append(p)
        work = 0
        for o, ps in by_order.items():
            lp, lc = np.unique(healpix.ang2pix(o, self.left.ra, self.left.dec), return_counts=True)
            rp, rc = np.unique(healpix.ang2pix(o, self.right.ra, self.right.dec), return_counts=True)
            lcount, rcount = dict(zip(lp.tolist(), lc.tolist())), dict(zip(rp.tolist(), rc.tolist()))
            work = max(work, max(lcount.get(p, 0) * rcount.get(p, 0) for p in ps))
        return work

    def summary(self, ops):
        return {"k": K_NEIGHBORS, "dthresh_deg": DTHRESH_DEG, "pairs": len(self.want),
                "partner_rows": len(self.right.ids)}

    def storage(self):
        return (tree_bytes(os.path.join(self.dir, "survey"), os.path.join(self.dir, "partner"))[1],
                os.path.getsize(os.path.join(self.dir, "in", "survey.parquet"))
                + os.path.getsize(os.path.join(self.dir, "in", "partner.parquet")))

    def catalog_dir(self):
        return os.path.join(self.dir, "survey"), "survey"


WORKLOADS = {w.name: w for w in (Ingest, Cone, XMatch)}


def run_ops(wl: Workload, run_one, seconds: float | None, n_ops: int | None) -> list[Op]:
    """Run operations in a closed loop of ``wl.clients`` client threads
    until their summed wall time reaches ``seconds`` per client or
    ``n_ops`` have run.  ``run_one(index)`` runs operation ``index`` and
    returns the :class:`Op` objects it made (the latency of each counts
    towards ``seconds``)."""
    limit = wl.max_ops()
    if n_ops is not None:
        limit = n_ops if limit is None else min(limit, n_ops)
    ops: list[Op] = []
    lock = threading.Lock()
    state = {"next": 0, "busy": 0.0}
    errors: list[BaseException] = []

    def client():
        while True:
            with lock:
                i = state["next"]
                if limit is not None and i >= limit:
                    return
                if (seconds is not None and i >= wl.min_ops
                        and state["busy"] >= seconds * wl.clients):
                    return
                state["next"] += 1
            done = run_one(i)
            with lock:
                ops.extend(done)
                state["busy"] += sum(op.latency for op in done)

    def guarded():
        try:
            client()
        except BaseException as e:  # re-raised on the main thread below
            errors.append(e)

    threads = [threading.Thread(target=guarded, name=f"client-{c}") for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    ops.sort(key=lambda o: (o.index, o.t0))
    return ops
