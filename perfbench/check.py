"""Independent expectations for every benchmark op.

Each checker recomputes an op's result from the generated inputs with
DuckDB or plain Python, without calling the engine, and compares it with
what the engine returned. A mismatch counts as a failed op.
"""
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

CELL_COLS = "row, family, qualifier, ts, type, value"
CELL_ORDER = "row, family, qualifier, ts DESC"


def _pad(k):
    return f"{int(k):010d}"


def _rows(con, sql, params=()):
    return [list(r) for r in con.execute(sql, params).fetchall()]


def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


class ReadMixChecker:
    """cells_orders: one Put cell per orders column, values in canonical
    string form (the engine's cellified view of `orders`)."""

    def __init__(self, inputs, threads):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        path = os.path.join(inputs, "orders.parquet")
        quals = [
            ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
            ("o_orderstatus", "o_orderstatus"),
            ("o_totalprice", "printf('%.2f', o_totalprice)"),
            ("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"),
            ("o_orderpriority", "o_orderpriority"),
        ]
        union = " UNION ALL ".join(
            f"SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS row, 'd' AS family, "
            f"'{q}' AS qualifier, CAST(1 AS BIGINT) AS ts, 'Put' AS type, {v} AS value "
            f"FROM read_parquet('{path}')" for q, v in quals)
        self.con.execute(f"CREATE TABLE cells AS {union}")

    def _cells(self, where, params=()):
        return _rows(self.con, f"SELECT {CELL_COLS} FROM cells WHERE {where} "
                               f"ORDER BY {CELL_ORDER}", params)

    def _filter_pred(self, f):
        """SQL predicate over a cell `c` for the filter strings the workload
        generates; row-level filters test the row's own column cell."""
        def one(part):
            part = part.strip()
            name, args = part.split("(", 1)
            args = [a.strip().strip("'") for a in args.rsplit(")", 1)[0].split(",")]
            if name == "SingleColumnValueFilter":
                _, q, _, cmp = args
                want = cmp.split(":", 1)[1]
                return (f"EXISTS (SELECT 1 FROM cells s WHERE s.row = c.row AND "
                        f"s.qualifier = '{q}' AND s.value = '{want}')")
            if name == "PrefixFilter":
                return f"starts_with(c.row, '{args[0]}')"
            if name == "ValueFilter":
                kind, want = args[1].split(":", 1)
                if kind == "substring":
                    return f"contains(lower(c.value), '{want.lower()}')"
                if kind == "binaryprefix":
                    return f"starts_with(c.value, '{want}')"
                return f"c.value = '{want}'"
            raise ValueError(f"unexpected filter {part}")
        return " AND ".join(one(p) for p in f.split(" AND "))

    def check(self, kind, p, result):
        if kind == "read.get":
            return result == self._cells("row = ?", [_pad(p["key"])])
        if kind == "read.scan":
            return result == self._cells("row >= ? AND row < ?",
                                         [_pad(p["start"]), _pad(p["stop"])])
        if kind == "filter.scan":
            pred = self._filter_pred(p["filter"])
            want = _rows(self.con,
                         f"SELECT {CELL_COLS} FROM cells c WHERE c.row >= ? AND c.row < ? "
                         f"AND {pred} ORDER BY {CELL_ORDER}",
                         [_pad(p["start"]), _pad(p["stop"])])
            return result == want
        if kind == "agg.range":
            rng = [_pad(p["start"]), _pad(p["stop"])]
            price = "row >= ? AND row < ? AND qualifier = 'o_totalprice'"
            if p["fn"] == "rowcount":
                want = _rows(self.con, "SELECT count(DISTINCT row) FROM cells "
                                       "WHERE row >= ? AND row < ?", rng)
                return result == want
            fn = "sum" if p["fn"] == "sum" else "quantile_cont"
            arg = "CAST(value AS DOUBLE)" + ("" if fn == "sum" else ", 0.5")
            want = _rows(self.con, f"SELECT {fn}({arg}) FROM cells WHERE {price}", rng)
            return len(result) == 1 and _close(result[0][0], want[0][0])
        if kind == "read.multiget":
            keys = sorted({_pad(k) for k in p["keys"]})
            marks = ",".join("?" * len(keys))
            return result == self._cells(f"row IN ({marks})", keys)
        raise ValueError(kind)


def _md5_32(line):
    return int(hashlib.md5(line.encode()).hexdigest()[:8], 16)


class WriteCdcChecker:
    """A Python model of the primary table, one live version per column,
    driven by the logged mutation batches in commit order."""

    def __init__(self, inputs, threads):
        t = pq.read_table(os.path.join(inputs, "base.parquet")).to_pylist()
        self.state = {(c["row"], c["qualifier"]): (c["ts"], c["value"]) for c in t}
        self.last_cells = 0

    def apply(self, op):
        if op["kind"] != "write.commit" or not op["ok"]:
            return
        p = op["params"]
        b = p["batch"]
        tb = 10 * b
        pre = dict(self.state)
        st = self.state
        for r, q in p["delete_column"]:
            if (r, q) in st and st[(r, q)][0] <= tb:
                del st[(r, q)]
        for r, q in p["delete"]:
            if (r, q) in st and st[(r, q)][0] == 1:
                del st[(r, q)]
        for r in p["delete_family"]:
            for k in [k for k in st if k[0] == r and st[k][0] <= tb]:
                del st[k]
        for r in p["delete_family_version"]:
            for k in [k for k in st if k[0] == r and st[k][0] == 1]:
                del st[k]
        for r, q, v in p["puts"]:
            st[(r, q)] = (tb + 5, v)
        sums = {}
        for r, d in p["increments"]:
            sums[r] = sums.get(r, 0) + d
        for r, d in sums.items():
            cur = int(pre[(r, "cnt")][1]) if (r, "cnt") in pre else 0
            st[(r, "cnt")] = (tb + 6, str(cur + d))
        flags = 0
        for r in p["check_and_mutate"]:
            if pre.get((r, "status"), (0, None))[1] == "hold":
                st[(r, "flag")] = (tb + 7, f"b{b}")
                flags += 1
        self.last_cells = (len(p["puts"]) + len(p["delete_column"]) + len(p["delete"])
                           + len(p["delete_family"]) + len(p["delete_family_version"])
                           + len(sums) + flags)

    def digest(self):
        h = sum(_md5_32(f"{r}|d|{q}|{ts}|Put|{v}") for (r, q), (ts, v) in self.state.items())
        return [len(self.state), h]

    def check(self, kind, p, result):
        if kind == "write.commit":
            return result["cells"] == self.last_cells
        if kind in ("stream.replay", "flow.bulkload"):
            return [result["n"], result["h"]] == self.digest()
        if kind == "write.verify_get":
            want = sorted(([r, "d", q, ts, "Put", v] for (r, q), (ts, v) in self.state.items()
                           if r in set(p["keys"])), key=lambda c: (c[0], c[1], c[2], -c[3]))
            return result == want
        raise ValueError(kind)


class LlmChecker:
    """Exact recomputation of MinHash-LSH near-dups and BM25 in Python, and
    exact cosine similarities with numpy."""

    K, BANDS, SHINGLE, THRESHOLD = 16, 4, 3, 0.8

    def __init__(self, inputs, threads):
        import numpy as np
        self.np = np
        d = pq.read_table(os.path.join(inputs, "documents.parquet")).to_pydict()
        self.docs = dict(zip(d["doc_id"], d["text"]))
        self.source = dict(zip(d["doc_id"], d["source"]))
        e = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pydict()
        self.vec = np.array(e["embedding"], dtype=np.float32).astype(np.float64)
        self.vec_ids = np.array(e["vec_id"])
        self.norm = np.sqrt((self.vec * self.vec).sum(axis=1))
        self.sigs = {}
        self.shs = {}
        self._bm25_cache = None

    def _toks(self, doc):
        return " ".join(self.docs[doc].split()).lower().split(" ")

    def _sig(self, doc):
        if doc not in self.sigs:
            toks = self._toks(doc)
            n = self.SHINGLE
            shs = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
            self.shs[doc] = shs
            mins = [min(int.from_bytes(hashlib.md5(f"{i}:{sh}".encode()).digest()[:6], "big")
                        for sh in shs) for i in range(self.K)]
            r = self.K // self.BANDS
            self.sigs[doc] = ["-".join(str(v) for v in mins[b * r:(b + 1) * r])
                              for b in range(self.BANDS)]
        return self.sigs[doc]

    def _dedup(self, sources):
        names = {f"s{s}" for s in sources}
        docs = sorted(d for d in self.docs if self.source[d] in names)
        buckets = {}
        for d in docs:
            for b, sig in enumerate(self._sig(d)):
                buckets.setdefault((b, sig), []).append(d)
        pairs = {(i, j) for ds in buckets.values() for i in ds for j in ds if i < j}
        out = []
        for i, j in sorted(pairs):
            a, b = self.shs[i], self.shs[j]
            m = len(a & b)
            jac = m / (len(a) + len(b) - m)
            if jac >= self.THRESHOLD:
                out.append((i, j, jac))
        return out

    def _cos(self, q, ids):
        v = self.vec[ids]
        return (v @ self.vec[q]) / (self.norm[ids] * self.norm[q])

    def _topk_ok(self, p, result, exact):
        np = self.np
        k = p["k"]
        by_q = {}
        for qid, rank, nb, sim in result:
            by_q.setdefault(qid, []).append((rank, nb, sim))
        if set(by_q) - set(p["queries"]):
            return False
        recall = []
        for q in p["queries"]:
            got = sorted(by_q.get(q, []))
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)) or len(got) > k:
                return False
            nbs = [nb for _, nb, _ in got]
            if q in nbs or len(set(nbs)) != len(nbs):
                return False
            sims = self._cos(q, np.array(nbs, dtype=int)) if nbs else np.array([])
            if any(abs(s - g) > 2e-6 for s, (_, _, g) in zip(sims, got)):
                return False
            if any(got[i][2] < got[i + 1][2] for i in range(len(got) - 1)):
                return False
            others = np.array([i for i in range(len(self.vec)) if i != q])
            best = np.sort(self._cos(q, others))[::-1][:k]
            if exact:
                if len(got) != k or got[-1][2] < best[-1] - 2e-6:
                    return False
            else:
                recall.append(sum(1 for s in sims if s >= best[-1] - 2e-6) / k)
        return exact or (sum(recall) / len(recall) >= 0.5)

    def _bm25_stats(self):
        if self._bm25_cache is None:
            toks = {d: self._toks(d) for d in self.docs}
            n = len(toks)
            avgdl = float(sum(len(t) for t in toks.values())) / n
            df = {}
            for t in toks.values():
                for w in set(t):
                    df[w] = df.get(w, 0) + 1
            self._bm25_cache = (toks, n, avgdl, df)
        return self._bm25_cache

    def _bm25(self, queries, k, k1=1.2, b=0.75):
        toks, n, avgdl, df = self._bm25_stats()
        out = []
        for q in queries:
            terms = list(dict.fromkeys(toks[q][:6]))
            scores = {}
            for d, t in toks.items():
                counts = {}
                for w in t:
                    if w in terms:
                        counts[w] = counts.get(w, 0) + 1
                if not counts:
                    continue
                dl = len(t)
                s = 0
                for w, tf in counts.items():
                    idf_q = math.floor(1000.0 * math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
                                       + 0.5)
                    s += math.floor(float(idf_q) * 1000.0 * (tf * (k1 + 1.0))
                                    / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
                scores[d] = s
            ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
            out += [[q, i + 1, d, s] for i, (d, s) in enumerate(ranked)]
        return out

    def check(self, kind, p, result):
        if kind == "ext.dedup":
            want = self._dedup(p["sources"])
            return (len(result) == len(want)
                    and all(r[0] == i and r[1] == j and abs(r[2] - jac) < 1e-4 + 1e-12
                            for r, (i, j, jac) in zip(result, want)))
        if kind == "ext.brute_topk":
            return self._topk_ok(p, result, exact=True)
        if kind == "ext.ann_topk":
            return self._topk_ok(p, result, exact=False)
        if kind == "ext.bm25":
            return result == self._bm25(p["queries"], p["k"])
        raise ValueError(kind)


class IngestChecker:
    """Write-path ops against the table model, ext ops against Python."""

    def __init__(self, inputs, threads):
        self.write = WriteCdcChecker(inputs, threads)
        self.ext = LlmChecker(inputs, threads)

    def apply(self, op):
        self.write.apply(op)

    def check(self, kind, p, result):
        side = self.ext if kind.startswith("ext.") else self.write
        return side.check(kind, p, result)


CHECKERS = {
    "read-mix": ReadMixChecker,
    "ingest-pipeline": IngestChecker,
}


def checker(workload, inputs, threads):
    return CHECKERS[workload](inputs, threads)
