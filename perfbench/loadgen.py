"""Load generator for scan_point: a process of its own, talking to a
``MarketDbServer`` over TCP.

``--clients`` closed-loop clients, one thread and one persistent ndjson
connection each, issue ``count``, cursor (``open`` + ``next`` pages of
100) and one-shot ``trades``/``orders`` requests, plus ``fetch_arrow``
requests through the package's bulk-lane client (which opens its own
connection per call).

Each request carries an ``rid`` field (client.request.op) that the
server ignores and the traced run uses to join client and server spans.
The first ``--warmup`` seconds are flagged as warm-up; then the window
runs for ``--seconds``. A logical request in flight at the deadline is
finished (so it can be checked) but operations it starts after the
deadline are not timed. Results go to ``--out`` as JSON.

Usage: python loadgen.py --seed 1 --host H --port P --seconds 10
           --warmup 1 --clients 4 --n-securities 500 --out f.json
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402

TERMINATORS = {"done", "count", "scan_id", "batch_end", "closed", "error"}


class Conn:
    """One persistent ndjson connection."""

    def __init__(self, host: str, port: int) -> None:
        self.host, self.port = host, port
        self.sock = socket.create_connection((host, port), timeout=120)
        self.rfile = self.sock.makefile("rb")

    def call(self, req: dict) -> tuple[list[dict], int, float]:
        """(response lines, bytes, time the last line arrived)."""
        self.sock.sendall(json.dumps(req).encode() + b"\n")
        out, nbytes = [], 0
        while True:
            line = self.rfile.readline()
            t_recv = time.perf_counter()
            if not line:
                raise ConnectionError("server closed the connection")
            nbytes += len(line)
            obj = json.loads(line)
            out.append(obj)
            if TERMINATORS & obj.keys():
                if "error" in obj:
                    raise RuntimeError(obj["error"])
                return out, nbytes, t_recv

    def close(self) -> None:
        self.rfile.close()
        self.sock.close()


class Client:
    """One closed-loop client: runs logical requests until the deadline."""

    def __init__(self, c: int, conn: Conn, window, ops: list, results: list) -> None:
        self.c, self.conn = c, conn
        self.warm_until, self.deadline = window
        self.ops, self.results = ops, results

    def _record(self, rid: str, op: str, t0: float, t1: float, rows: int, nbytes: int,
                t_recv: float | None = None) -> None:
        self.ops.append(
            {"rid": rid, "op": op, "t0": t0, "t1": t1, "rows": rows, "bytes": nbytes,
             "t_recv": t_recv, "timed": self.warm_until <= t0 < self.deadline}
        )

    def call(self, rid: str, body: dict) -> tuple[list[dict], list[dict]]:
        t0 = time.perf_counter()
        out, nbytes, t_recv = self.conn.call({**body, "rid": rid})
        rows = [o for o in out if not TERMINATORS & o.keys()]
        self._record(rid, body["op"], t0, time.perf_counter(), len(rows), nbytes, t_recv)
        return out, rows

    def arrow(self, rid: str, req: dict):
        from marketdb_spark.server import fetch_arrow

        t0 = time.perf_counter()
        table = fetch_arrow(self.conn.host, self.conn.port, {**req, "rid": rid}, timeout=120)
        self._record(rid, "fetch_arrow", t0, time.perf_counter(), table.num_rows, 0)
        return table

    def one(self, i: int, req: dict) -> dict:
        """Run logical request ``i``; returns what the checker needs."""
        id_col = "trade_id" if req["kind"] == "trades" else "order_id"
        res = {"c": self.c, "i": i, "req": req, "warm": time.perf_counter() < self.warm_until}
        rid = f"{self.c}.{i}"
        if req["op"] == "cursor":
            body = {key: req[key] for key in ("kind", "market", "security", "interval")}
            out, _ = self.call(f"{rid}.0", {**body, "op": "open"})
            sid, ids, k = out[-1]["scan_id"], [], 1
            while True:
                out, rows = self.call(f"{rid}.{k}", {"op": "next", "scan_id": sid, "n": gen.PAGE})
                k += 1
                ids.extend(r[id_col] for r in rows)
                if out[-1]["exhausted"]:
                    break
                if req["abandon"]:  # the client disappears; the scan stays open
                    res["left_open"] = True
                    break
        elif req["op"] == "count":
            out, _ = self.call(f"{rid}.0", req)
            res["n"] = out[-1]["count"]
            return res
        elif req["op"] == "fetch_arrow":
            ids = self.arrow(f"{rid}.0", req).column(id_col).to_pylist()
        else:
            _, rows = self.call(f"{rid}.0", req)
            ids = [r[id_col] for r in rows]
        res["n"], res["digest"] = len(ids), gen.digest(ids)
        return res

    def run(self, reqs: list[dict]) -> None:
        try:
            for i, req in enumerate(reqs):
                if time.perf_counter() >= self.deadline:
                    break
                try:
                    res = self.one(i, req)
                except Exception as exc:  # recorded as a failed request, checked by the caller
                    res = {"c": self.c, "i": i, "req": req, "error": f"{type(exc).__name__}: {exc}"}
                    self.conn.close()
                    self.conn = Conn(self.conn.host, self.conn.port)
                self.results.append(res)
        finally:
            self.conn.close()


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    for name, typ in [("--seed", int), ("--host", str), ("--port", int),
                      ("--seconds", float), ("--warmup", float), ("--clients", int),
                      ("--n-securities", int), ("--out", str)]:
        p.add_argument(name, type=typ, required=True)
    args = p.parse_args(argv)
    spec = gen.StoreSpec(n_securities=args.n_securities)
    streams = [gen.point_requests(args.seed, c, 4000, spec) for c in range(args.clients)]
    ops: list[dict] = []
    results: list[dict] = []
    start = time.perf_counter()
    window = (start + args.warmup, start + args.warmup + args.seconds)
    clients = [Client(c, Conn(args.host, args.port), window, ops, results) for c in range(args.clients)]
    threads = [threading.Thread(target=cl.run, args=(reqs,)) for cl, reqs in zip(clients, streams)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        json.dump({"window": window, "ops": ops, "results": results}, f)


if __name__ == "__main__":
    main()
