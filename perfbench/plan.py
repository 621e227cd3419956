"""Seeded operation sequences for the three workloads.

A plan is everything the JVM side runs: the table's SQL DDL, the set-up
loads, and the rounds of operations, each with its SQL text, the generator
ranges that supply its rows, and the live row count the generator implies.
The same (workload, seed) always gives the same plan.

Rows come from ``graft.gen.Synthesize.txEvents``: a ``Gen`` of ``(lo, hi,
delta)`` is that generator's rows ``lo <= id < hi`` with ``delta`` added to
``user_id``. The seed picks the key offset, the lookup keys, the pruned
window and the upsert, delete and update keys.
"""

import random
from datetime import datetime, timedelta, timezone

EPOCH_BASE = datetime(2025, 1, 1, tzinfo=timezone.utc)  # Synthesize.EpochBase
MOD = 1000  # bulk_cow's scattered predicates are user_id % MOD = r
NS = "bench"
SCHEMA = "user_id BIGINT, ts TIMESTAMP, amount DOUBLE, city STRING, category STRING"
REF_LAYOUT = "PARTITIONED BY (days(ts), bucket(16, user_id))"
MOR_PROPS = ("TBLPROPERTIES ('write.identifier-columns'='user_id', "
             "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', "
             "'write.merge.mode'='merge-on-read')")

# Sizes per workload. `round_s` is about how long one round takes on a
# 4-core machine: a run of --seconds S does max(1, int(S / round_s)) whole
# rounds, so both sides of a comparison run the same operations. A metadata
# COUNT(*) takes milliseconds and its code path keeps warming for many calls,
# so where it stays metadata-only (no pending merge-on-read deletes) the
# warm-up and the final checks repeat it for a steady median.
SIZES = {
    "read_phases": dict(rows=210_000, loads=3, load_gap_days=2, lookups=8, keys_per_lookup=3,
                        round_s=7, final_counts=10, final_checksums=7),
    "ingest_mor": dict(rows=30_000, loads=3, inserts=10, insert_rows=2_000,
                       upsert_rows=100, delete_keys=50, maintain_every=2, round_s=20,
                       final_counts=3, final_checksums=3),
    "bulk_cow": dict(rows=60_000, loads=3, insert_rows=120_000, round_s=14, final_counts=10,
                     final_checksums=5),
}
WORKLOADS = tuple(SIZES)


class KeySet:
    """The live user_id set, as disjoint ranges each with the residues
    (mod MOD) deleted from it since it was written."""

    def __init__(self):
        self.segs = []  # [lo, hi, frozenset of dead residues]

    def add(self, lo, hi):
        self.delete_range(lo, hi)
        self.segs.append([lo, hi, frozenset()])
        self.segs.sort()

    def delete_range(self, lo, hi):
        out = []
        for a, b, dead in self.segs:
            if a < min(b, lo):
                out.append([a, min(b, lo), dead])
            if max(a, hi) < b:
                out.append([max(a, hi), b, dead])
        self.segs = out

    def delete_mod(self, r):
        self.segs = [[a, b, dead | {r}] for a, b, dead in self.segs]

    def batch(self, kind, key0, n):
        """Insert one batch: generator rows 0..n-1 as keys key0 .. key0+n-1.
        Small batches start at generator row 0, so their plans carry exact
        row counts, as a materialized ingest batch would."""
        self.keys.add(key0, key0 + n)
        return self.op(kind, [f"INSERT INTO {self.table} SELECT * FROM bench_src"],
                       src=[self.gen(0, n, key0)])

    def count(self):
        def upto(x, r):  # keys k in [0, x) with k % MOD == r
            return max(0, (x - r + MOD - 1) // MOD)
        return sum(b - a - sum(upto(b, r) - upto(a, r) for r in dead)
                   for a, b, dead in self.segs)

    def pick_range(self, rng, length):
        """A seeded run of `length` keys that are all live."""
        fits = [s for s in self.segs if not s[2] and s[1] - s[0] >= length]
        a, b, _ = fits[rng.randrange(len(fits))]
        lo = rng.randrange(a, b - length + 1)
        return lo, lo + length


class Builder:
    def __init__(self, workload, seed, seconds):
        self.workload = workload
        self.seed = seed
        self.rng = random.Random(f"{workload}:{seed}")
        self.size = SIZES[workload]
        self.rounds = max(1, int(seconds / self.size["round_s"]))
        self.table = f"{NS}.{workload}"
        self.next_id = 1
        self.keys = KeySet()
        # key offset: user_id = generator id + base
        self.base = self.rng.randrange(1, 1000) * 1_000_000

    def op(self, kind, sql, src=(), pred=None, keys=(), ts_lo=None, ts_hi=None,
           expect_count=None):
        o = dict(id=self.next_id, kind=kind, sql=list(sql), src=list(src), pred=pred,
                 keys=list(keys), tsLo=ts_lo, tsHi=ts_hi, expectCount=expect_count)
        self.next_id += 1
        return o

    def gen(self, lo, hi, delta=None):
        return dict(lo=lo, hi=hi, delta=self.base if delta is None else delta)

    def write(self, kind, lo, hi, order_ts=False):
        """Insert generator ids [lo, hi) as keys base+lo .. base+hi."""
        self.keys.add(self.base + lo, self.base + hi)
        order = " ORDER BY ts" if order_ts else ""
        return self.op(kind, [f"INSERT INTO {self.table} SELECT * FROM bench_src{order}"],
                       src=[self.gen(lo, hi)])

    def batch(self, kind, key0, n):
        """Insert one batch: generator rows 0..n-1 as keys key0 .. key0+n-1.
        Small batches start at generator row 0, so their plans carry exact
        row counts, as a materialized ingest batch would."""
        self.keys.add(key0, key0 + n)
        return self.op(kind, [f"INSERT INTO {self.table} SELECT * FROM bench_src"],
                       src=[self.gen(0, n, key0)])

    def count(self):
        return self.op("count", [f"SELECT COUNT(*) AS row_count FROM {self.table}"],
                       expect_count=self.keys.count())

    def checksum(self):
        return self.op("checksum", [
            f"SELECT SUM(CAST(amount AS DECIMAL(20,3))) AS checksum FROM {self.table}"])

    def setup(self, order_ts):
        per = self.size["rows"] // self.size["loads"]
        return [self.write("load", i * per, (i + 1) * per, order_ts)
                for i in range(self.size["loads"])]

    def ddl(self, tail):
        return [f"CREATE NAMESPACE IF NOT EXISTS {NS}",
                f"CREATE TABLE {self.table} ({SCHEMA}) USING iceberg {tail}"]

    def plan(self, ddl, setup, warmup, rounds, final_maintain=None):
        """After the rounds, the JVM side repeats the final COUNT(*) and
        checksum (each checked) `final_counts` / `final_checksums` times."""
        return dict(workload=self.workload, seed=self.seed,
                    table=dict(ns=NS, name=self.workload, ddl=ddl), setup=setup,
                    warmup=warmup, rounds=rounds,
                    finalMaintain=final_maintain, finalCount=self.count(),
                    finalChecksum=self.checksum(), finalCounts=self.size["final_counts"],
                    finalChecksums=self.size["final_checksums"])


def ts_text(seconds):
    return (EPOCH_BASE + timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S")


def read_phases(b):
    s = b.size
    # load i holds generator ids from day i * load_gap_days on (ts = EPOCH_BASE
    # + id seconds), so the loads sit on separate days and a window prunes
    per = s["rows"] // s["loads"]
    starts = [i * s["load_gap_days"] * 86400 for i in range(s["loads"])]
    setup = [b.write("load", lo, lo + per, order_ts=True) for lo in starts]
    days = -(-(starts[-1] + per) // 86400)

    def cycle(lookups):
        d = b.rng.randrange(0, days - 1)
        lo, hi = ts_text(d * 86400), ts_text((d + 2) * 86400)
        ops = [
            b.op("pruned_agg", [
                f"SELECT city, COUNT(*) AS n FROM {b.table} "
                f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' GROUP BY city"],
                ts_lo=lo, ts_hi=hi),
            b.op("full_agg", [
                f"SELECT category, percentile_approx(amount, 0.95) AS p95, COUNT(*) AS n "
                f"FROM {b.table} GROUP BY category"]),
        ]
        for _ in range(lookups):
            keys = sorted(b.base + b.rng.choice(starts) + b.rng.randrange(per)
                          for _ in range(s["keys_per_lookup"]))
            ops.append(b.op("lookup", [
                f"SELECT * FROM {b.table} WHERE user_id IN ({', '.join(map(str, keys))})"],
                keys=keys))
        return ops + [b.count()]

    warmup = cycle(1) + [b.checksum() for _ in range(4)] + [b.count() for _ in range(20)]
    rounds = [cycle(s["lookups"]) for _ in range(b.rounds)]
    return b.plan(b.ddl(REF_LAYOUT), setup, warmup, rounds)


def ingest_mor(b):
    s = b.size
    setup = b.setup(order_ts=False)
    warmup = [op for _ in range(4) for op in (b.checksum(), b.count())]
    frontier = s["rows"]  # next fresh generator id
    t = b.table
    maintain = lambda: b.op("maintain_table", [])  # noqa: E731 - no SQL form
    rounds = []
    for r in range(b.rounds):
        ops = []
        for _ in range(s["inserts"]):
            ops.append(b.batch("insert", b.base + frontier, s["insert_rows"]))
            frontier += s["insert_rows"]
        half = s["upsert_rows"] // 2
        mlo, _ = b.keys.pick_range(b.rng, half)  # matched: live keys
        src = [b.gen(0, half, mlo), b.gen(0, half, b.base + frontier)]
        b.keys.add(mlo, mlo + half)
        b.keys.add(b.base + frontier, b.base + frontier + half)
        frontier += half
        ops.append(b.op("upsert", [
            f"MERGE INTO {t} AS t USING bench_src AS s ON t.user_id = s.user_id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"], src=src))
        dlo, dhi = b.keys.pick_range(b.rng, s["delete_keys"])
        b.keys.delete_range(dlo, dhi)
        ops.append(b.op("delete", [
            f"DELETE FROM {t} WHERE user_id >= {dlo} AND user_id < {dhi}"],
            pred=dict(kind="range", lo=dlo, hi=dhi, m=0, r=0)))
        k, _ = b.keys.pick_range(b.rng, 1)
        ops.append(b.op("update", [f"UPDATE {t} SET amount = amount + 0.5 WHERE user_id = {k}"],
                        pred=dict(kind="range", lo=k, hi=k + 1, m=0, r=0)))
        ops += [b.checksum(), b.count()]
        if (r + 1) % s["maintain_every"] == 0:
            ops.append(maintain())
        rounds.append(ops)
    return b.plan(b.ddl(MOR_PROPS), setup, warmup, rounds,
                  final_maintain=maintain())


def bulk_cow(b):
    s = b.size
    setup = b.setup(order_ts=True)
    warmup = [op for _ in range(4) for op in (b.checksum(), b.count())]
    frontier = s["rows"]
    t = b.table
    residues = list(range(MOD))
    b.rng.shuffle(residues)  # deletes pop from the end, updates read from the front
    rounds = []
    for r in range(b.rounds):
        ops = [b.write("insert", frontier, frontier + s["insert_rows"], order_ts=True)]
        frontier += s["insert_rows"]
        dr, ur = residues.pop(), residues[r]
        b.keys.delete_mod(dr)
        ops.append(b.op("delete", [f"DELETE FROM {t} WHERE user_id % {MOD} = {dr}"],
                        pred=dict(kind="mod", lo=0, hi=0, m=MOD, r=dr)))
        ops.append(b.op("update", [
            f"UPDATE {t} SET amount = amount + 0.5 WHERE user_id % {MOD} = {ur}"],
            pred=dict(kind="mod", lo=0, hi=0, m=MOD, r=ur)))
        ops += [b.checksum(), b.count()]
        ops.append(b.op("maintain_calls", [
            f"CALL graft.system.rewrite_data_files(table => '{t}', options => "
            "map('min-input-files','2','target-file-size-bytes','134217728'))",
            f"CALL graft.system.rewrite_manifests('{t}')",
            f"CALL graft.system.expire_snapshots(table => '{t}', retain_last => 2)"]))
        rounds.append(ops)
    return b.plan(b.ddl(REF_LAYOUT), setup, warmup, rounds)


def make_plan(workload, seed, seconds):
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r} (one of {', '.join(WORKLOADS)})")
    return globals()[workload](Builder(workload, seed, seconds))
