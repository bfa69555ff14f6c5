"""The lake_write workload: its seeded operation plan and the reference
model every lake read and the final table are checked against.

Table rows are (id, grp, val, name). A batch of rows is a pure function
of its keys and the op's coefficients (`row`), so the program builds it
with Spark expressions and the model builds it here, from the same op
record in ops.jsonl.
"""
import zlib

import pyarrow as pa

ROUND = 20          # ops per timed round; the last op of a round is maintenance
# two ops of each kind; with one, the first timed round ran visibly slower
WARMUP = ("append", "appends_between", "merge", "update", "delete", "read",
          "read_pruned", "time_travel", "vacuum", "compact") * 2
VACUUM_KEEP = 3     # versions kept by vacuum; reads go back at most 2
GRP_MOD, VAL_MOD, NAME_MOD = 10, 1_000_003, 997


def row(key, m, c):
    return ((key * m[0] + c[0]) % GRP_MOD,
            (key * m[1] + c[1]) % VAL_MOD,
            f"u{(key * m[2] + c[2]) % NAME_MOD}")


def _coeffs(rng):
    return [int(x) for x in rng.integers(1, 100_000, 3)], [int(x) for x in rng.integers(0, 100_000, 3)]


def base_table(rng, n):
    m, c = _coeffs(rng)
    rows = [row(k, m, c) for k in range(n)]
    return pa.table({"id": pa.array(range(n), pa.int64()),
                     "grp": pa.array([r[0] for r in rows], pa.int32()),
                     "val": pa.array([r[1] for r in rows], pa.int64()),
                     "name": pa.array([r[2] for r in rows], pa.string())})


def plan_ops(rng, base_rows, n_ops):
    """A warm-up block (one op of each kind), then `n_ops` ops in rounds
    of ROUND. Each round holds the same multiset (10 writes, 8 reads, a
    vacuum near the middle and a compaction at the end) in a seeded
    order; an appends_between read always directly follows the append
    it reads."""
    next_id = base_rows
    ops = []

    def make(kind):
        nonlocal next_id
        op = {"op": kind}
        if kind == "append":
            n = int(rng.integers(100, 300))
            op.update(lo=next_id, n=n)
            next_id += n
        elif kind == "merge":
            old = sorted({int(k) for k in rng.integers(0, next_id, 100)})
            op.update(keys=old + list(range(next_id, next_id + 50)))
            next_id += 50
        elif kind in ("update", "delete", "read_pruned"):
            width = {"update": 500, "delete": 150, "read_pruned": 2000}[kind]
            lo = int(rng.integers(0, max(1, next_id - width)))
            op.update(lo=lo, hi=lo + width)
            if kind == "update":
                op["add"] = int(rng.integers(1, 1000))
        elif kind == "time_travel":
            op["back"] = int(rng.integers(1, VACUUM_KEEP))
        elif kind == "vacuum":
            op["keep"] = VACUUM_KEEP
        if kind in ("append", "merge"):
            op["m"], op["c"] = _coeffs(rng)
        return op

    ops = [make(k) for k in WARMUP]
    units = ([["append", "appends_between"]] * 2 + [["append"]] + [["merge"]] * 3
             + [["update"]] * 2 + [["delete"]] * 2 + [["read"]] * 2
             + [["read_pruned"]] * 2 + [["time_travel"]] * 2)
    for _ in range(n_ops // ROUND):
        round_ops = []
        for u in rng.permutation(len(units)):
            round_ops += [make(kind) for kind in units[u]]
            if len(round_ops) >= ROUND // 2 - 1 and all(o["op"] != "vacuum" for o in round_ops):
                round_ops.append(make("vacuum"))
        ops += round_ops + [make("compact")]
    return ops


WRITES = ("append", "merge", "update", "delete")
READS = ("read", "read_pruned", "appends_between", "time_travel")


class Model:
    """id -> (grp, val, name), with a digest per committed version."""

    def __init__(self, base):
        d = base.to_pydict()
        self.rows = {i: (g, v, n) for i, g, v, n in zip(d["id"], d["grp"], d["val"], d["name"])}
        self.version = None
        self.by_version = {}

    @staticmethod
    def digest(items):
        """(count, sum id, sum grp, sum val, sum crc32(name)) — the same
        aggregate the program computes with Spark."""
        n = si = sg = sv = sc = 0
        for i, (g, v, name) in items:
            n += 1
            si += i
            sg += g
            sv += v
            sc += zlib.crc32(name.encode())
        return [n, si, sg, sv, sc]

    def state(self):
        return self.digest(self.rows.items())

    def apply(self, op):
        """Apply a write; returns (rows it touched, appended rows or None)."""
        kind = op["op"]
        if kind == "append":
            new = {k: row(k, op["m"], op["c"]) for k in range(op["lo"], op["lo"] + op["n"])}
            self.rows.update(new)
            return len(new), new
        if kind == "merge":
            self.rows.update({k: row(k, op["m"], op["c"]) for k in op["keys"]})
            return len(op["keys"]), None
        hit = [k for k in range(op.get("lo", 0), op.get("hi", 0)) if k in self.rows]
        if kind == "update":
            for k in hit:
                g, v, n = self.rows[k]
                self.rows[k] = (g, v + op["add"], n)
        elif kind == "delete":
            for k in hit:
                del self.rows[k]
        else:
            return 0, None
        return len(hit), None


def check(base, ops, log, final_rows):
    """Replay the executed ops on the model and compare every read and
    the final table. `log` holds one record per executed op, in order:
    {"i", "v_before", "v_after", "digest"?, "version"?}.

    Returns (failures as (op index or None, reason), {op index: rows the
    op touched}, {op index: live rows after it})."""
    model = Model(base)
    fails, touched, live = [], {}, {}
    appended = {}
    for rec in log:
        i = rec["i"]
        op = ops[i]
        if model.version is None:
            model.version = rec["v_before"]
            model.by_version[model.version] = model.state()
        kind = op["op"]
        if kind in WRITES or kind == "compact":
            before = model.state()
            touched[i], new = model.apply(op)
            after = model.state()
            if rec["v_after"] != rec["v_before"]:
                model.by_version[rec["v_after"]] = after
                if new is not None:
                    appended[rec["v_after"]] = new
            elif after != before:
                fails.append((i, f"{kind} changed rows but committed no version"))
            model.version = rec["v_after"]
        elif kind in READS:
            if kind == "read":
                want = model.state()
            elif kind == "read_pruned":
                want = model.digest((k, model.rows[k]) for k in range(op["lo"], op["hi"])
                                    if k in model.rows)
            elif kind == "appends_between":
                want = model.digest(appended.get(rec["version"], {}).items())
            else:
                want = model.by_version.get(rec["version"])
            if rec.get("digest") != want:
                fails.append((i, f"{kind} read {rec.get('digest')}, model has {want}"))
        live[i] = len(model.rows)
    if final_rows is None:
        fails.append((None, "final table was not written"))
    else:
        got = {i: (g, v, n) for i, g, v, n in zip(final_rows["id"], final_rows["grp"],
                                                  final_rows["val"], final_rows["name"])}
        if len(got) != len(final_rows["id"]):
            fails.append((None, "final table has duplicate ids"))
        elif got != model.rows:
            diff = sorted(set(got.items()) ^ set(model.rows.items()))[:3]
            fails.append((None, f"final table differs from the model, e.g. {diff}"))
    return fails, touched, live
