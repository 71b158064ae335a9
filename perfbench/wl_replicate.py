"""``replicate`` workload: Postgres logical replication into a parquet archive,
then Debezium envelopes applied to a keyed table.

The Postgres stand-in is ``sources.pgrepl_mock.MockWalSender`` behind a TCP
listener on localhost; this module answers the two walsender commands the
tailer issues before streaming (``CREATE_REPLICATION_SLOT``,
``IDENTIFY_SYSTEM``) and hands the connection to the mock at
``START_REPLICATION``. ``streaming.live.PgCdcTailer`` runs at its defaults
(one transaction per segment) and feeds a ``Replicator`` with
``source_format="pgoutput"`` and a parquet target, as ``cli replicate`` wires
them. Three phases:

1. backlog — after one warm-up transaction and ``WARM_ROUNDS`` untimed
   rounds, ``BACKLOG_ROUNDS`` rounds: a change log of ``BACKLOG_TXNS``
   transactions is recorded by the tailer while the ``Replicator`` is
   paused, then offered to it at once by ``resume()``. The segment source
   has no per-trigger cap, so each round is read as ONE catch-up
   micro-batch; drain rate = events / (resume → commit of that batch), and
   the median over the rounds is reported;
2. live — an open loop sends transactions at a fixed rate; each
   transaction's commit timestamp is its due time, and its lag is the
   commit time of the micro-batch carrying its last event minus that due
   time;
3. apply — envelope JSONL files stream through ``parse_envelope`` →
   ``streaming.materialize.materialize`` (the ``cli materialize`` path);
   apply rate = events / (files offered → last state version committed).

A micro-batch's commit time is the modification time of its entry in the
sink's ``_spark_metadata`` log (archive) or of the state's ``_LATEST``
pointer (apply), read after the phase, so the untraced pass adds nothing to
the pipeline.

Sizing, measured at local[2] on a 4-vCPU host with the tailer's default of
one transaction per segment: a micro-batch of one segment costs 0.6-0.7 s
(``addBatch`` about 0.45 s of it), and a catch-up batch of 8 segments
1.3-1.7 s, so the Spark leg drains about 5 segments/s when segments queue
up. The live rate is 5 events/s, one transaction of 4 events every 0.8 s,
so a live batch normally carries one transaction and finds the query idle:
the lag is set by the batch cost, not by a queue. At 2 transactions/s the
interval is shorter than a one-segment batch; the lag then climbs by about
0.2 s per transaction until a batch takes two, and its median across runs
swung with the host's speed (0.42-1.27 s). The backlog rounds stay short because of a
finding: the replication socket keeps the 10 s timeout it was dialled with
while it streams, and the walsender stand-in sends nothing while a backlog
drains, so a drain of 10 s or more ends the tailer (the same would happen
against an idle Postgres, whose keepalives come every
wal_sender_timeout/2, 30 s by default).
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import struct
import threading
import time

from perfbench import gen

WARM_EVENTS, WARM_TXNS = 8, 1  # first data through the pipeline, untimed
WARM_ROUNDS = 1  # untimed backlog rounds: the first multi-segment batch is the slowest
BACKLOG_ROUNDS = 3  # timed catch-up micro-batches, one per round
BACKLOG_EVENTS, BACKLOG_TXNS = 64, 8  # per round
LIVE_EVENTS_PER_S = 5.0  # open-loop rate (recorded in BENCHMARK.json)
LIVE_TXN_EVENTS = 4  # mean events per live transaction
LIVE_SHARE = 1.0  # live-phase seconds per second of --seconds
APPLY_FILES, APPLY_EVENTS_PER_FILE = 2, 300
TRIGGER = "0 seconds"  # flush interval: as soon as data arrives
DB = "postgres"
USER = "perfbench"


# -- walsender stand-in --------------------------------------------------------

def _peek_message(sock) -> tuple[bytes, bytes]:
    head = b""
    while len(head) < 5:
        head = sock.recv(5, socket.MSG_PEEK)
        if not head:
            raise ConnectionError("client closed")
    (ln,) = struct.unpack(">I", head[1:5])
    msg = b""
    while len(msg) < 1 + ln:
        msg = sock.recv(1 + ln, socket.MSG_PEEK)
    return msg[:1], msg[5:]


def _send(sock, tag: bytes, body: bytes) -> None:
    sock.sendall(tag + struct.pack(">I", len(body) + 4) + body)


def _data_row(values: list[str]) -> bytes:
    out = struct.pack(">H", len(values))
    for v in values:
        b = v.encode()
        out += struct.pack(">i", len(b)) + b
    return out


class WalServer:
    """TCP front for ``MockWalSender``: trust auth, the two pre-stream
    walsender commands, then the mock serves START_REPLICATION."""

    def __init__(self, mock, consistent_lsn: int, xlogpos: int):
        from librarian_spark.sources.pgrepl_client import lsn_str

        self.mock = mock
        self.point = lsn_str(consistent_lsn)
        self.xlogpos = lsn_str(xlogpos)
        self.lsock = socket.socket()
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(2)
        self.port = self.lsock.getsockname()[1]
        self.threads: list[threading.Thread] = []
        self.conns: list[socket.socket] = []
        t = threading.Thread(target=self._accept, name="perfbench-walserver", daemon=True)
        t.start()
        self.threads.append(t)

    def url(self, slot: str) -> str:
        return f"postgres://{USER}@127.0.0.1:{self.port}/{DB}?slot={slot}&publication=pub"

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self.lsock.accept()
            except OSError:
                return
            self.conns.append(conn)
            t = threading.Thread(target=self._session, args=(conn,), daemon=True)
            t.start()
            self.threads.append(t)

    def _session(self, sock) -> None:
        from librarian_spark.sources.pgrepl_client import AUTH_OK

        try:
            (ln,) = struct.unpack(">I", sock.recv(4, socket.MSG_WAITALL))
            sock.recv(ln - 4, socket.MSG_WAITALL)  # startup parameters
            _send(sock, b"R", struct.pack(">I", AUTH_OK))
            _send(sock, b"Z", b"I")
            while True:
                tag, body = _peek_message(sock)
                sql = body.rstrip(b"\x00").decode()
                if tag == b"Q" and sql.startswith("START_REPLICATION"):
                    self.mock.serve(sock)
                    return
                sock.recv(5 + len(body), socket.MSG_WAITALL)
                if sql.startswith("CREATE_REPLICATION_SLOT"):
                    row = ["perfbench_slot", self.point, "00000003-00000002-1", "pgoutput"]
                elif sql.startswith("IDENTIFY_SYSTEM"):
                    row = ["7000000000000000001", "1", self.xlogpos, DB]
                else:
                    _send(sock, b"E", b"SERROR\x00C0A000\x00Munsupported\x00\x00")
                    _send(sock, b"Z", b"I")
                    continue
                _send(sock, b"D", _data_row(row))
                _send(sock, b"C", b"SELECT 1\x00")
                _send(sock, b"Z", b"I")
        except (ConnectionError, OSError):
            return

    def close(self) -> None:
        try:
            self.lsock.shutdown(socket.SHUT_RDWR)  # wakes the blocked accept()
        except OSError:
            pass
        self.lsock.close()
        for c in self.conns:
            try:
                c.close()
            except OSError:
                pass
        for t in self.threads:
            t.join(timeout=10)


# -- the workload ----------------------------------------------------------

def _wait_idle(query, timeout: float = 60.0) -> None:
    """Wait until a freshly started query has planned and is polling."""
    end = time.time() + timeout
    while time.time() < end:
        st = query.status
        if st.get("message") == "Waiting for data to arrive" and not st.get("isTriggerActive"):
            return
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.02)
    raise TimeoutError("streaming query never became idle")


def _wait_rows(query, want: int, timeout: float, tailer=None) -> None:
    """Poll progress until ``want`` input rows have been committed; a stall
    or a dead tailer fails the run instead of hanging it."""
    seen: dict[int, int] = {}
    end = time.time() + timeout
    while time.time() < end:
        if tailer is not None:
            tailer.raise_if_failed()
        for p in query.recentProgress:
            seen[p["batchId"]] = p["numInputRows"]
        if sum(seen.values()) >= want:
            return
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.02)
    raise TimeoutError(f"only {sum(seen.values())}/{want} rows committed")


def _wait_segments(seg_dir: str, want: int, timeout: float) -> None:
    end = time.time() + timeout
    while len([f for f in os.listdir(seg_dir) if f.endswith(".pgwal")]) < want:
        if time.time() > end:
            raise TimeoutError(f"tailer recorded fewer than {want} segments")
        time.sleep(0.01)


def sink_batch_commits(sink_dir: str) -> dict[str, float]:
    """file name → commit time of the micro-batch that wrote it, from the
    parquet sink's metadata log (compacted logs repeat earlier entries, so a
    file's first appearance names its batch)."""
    log = os.path.join(sink_dir, "_spark_metadata")
    batches = []
    for f in os.listdir(log):
        if f.startswith(".") or f.endswith(".tmp"):
            continue
        batches.append((int(f.split(".")[0]), os.path.getmtime(os.path.join(log, f)), f))
    out: dict[str, float] = {}
    for _, mtime, f in sorted(batches):
        with open(os.path.join(log, f), encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                path = json.loads(line)["path"]
                out.setdefault(os.path.basename(path), mtime)
    return out


def _watch_state(state_dir: str, sizes: dict[int, int], stop: threading.Event) -> None:
    latest = os.path.join(state_dir, "_LATEST")
    while not stop.is_set():
        try:
            with open(latest) as fh:
                v = int(fh.read().strip())
            if v not in sizes:
                d = os.path.join(state_dir, f"v={v}")
                sizes[v] = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        except (OSError, ValueError):
            pass
        time.sleep(0.02)


class ReplicateWorkload:
    name = "replicate"

    def __init__(self, run, seed: int):
        self.run = run
        self.seed = seed

    def prepare(self, spark) -> None:
        # start the Python worker pool before any streaming query needs it
        spark.range(8).mapInPandas(lambda it: it, "id long").write.format("noop") \
            .mode("overwrite").save()
        self.apply_src = self.run.sub("data", "envelopes")
        self.apply_events = gen.envelope_files(
            self.apply_src, self.seed, APPLY_FILES, APPLY_EVENTS_PER_FILE,
            base_ts_ms=1_700_000_000_000)

    def _changes(self, seconds: float):
        """Warm-up, backlog and live transactions — identical for every pass.
        The first ``WARM_ROUNDS`` backlog rounds are untimed."""
        g = gen.ChangeGenerator(self.seed, stream=1)
        warm = g.transactions(WARM_EVENTS, WARM_TXNS)
        backlog = [g.transactions(BACKLOG_EVENTS, BACKLOG_TXNS)
                   for _ in range(WARM_ROUNDS + BACKLOG_ROUNDS)]
        live_s = max(6.0, LIVE_SHARE * seconds)
        n_live = int(round(LIVE_EVENTS_PER_S * live_s))
        live = g.transactions(n_live, max(1, n_live // LIVE_TXN_EVENTS))
        return warm, backlog, live

    def measure(self, spark, seconds: float, tag: str, tracer=None) -> dict:
        from librarian_spark.sources.pgrepl_mock import MockWalSender
        from librarian_spark.streaming.live import PgCdcTailer
        from librarian_spark.streaming.replicate import ReplicateConfig, Replicator

        warm, rounds, live = self._changes(seconds)
        warm_rounds, backlog = rounds[:WARM_ROUNDS], rounds[WARM_ROUNDS:]
        root = self.run.sub("out", f"replicate-{tag}")
        ckpt, archive = os.path.join(root, "ckpt"), os.path.join(root, "archive")
        go_warm, go_live = threading.Event(), threading.Event()
        go_backlog = [threading.Event() for _ in rounds]
        abort = threading.Event()
        interval = sum(len(t.events) for t in live) / LIVE_EVENTS_PER_S / len(live)
        res = {"warm": warm + sum(warm_rounds, []), "backlog": backlog, "live": live,
               "archive": archive,
               "interval": interval, "late": [], "query_ids": {}, "t_offer": []}

        def feed():
            for txn in warm:  # one at a time: each warm-up txn is its own batch
                go_warm.wait()
                go_warm.clear()
                if abort.is_set():
                    return
                txn.due = time.time()
                yield txn.end_lsn, gen.encode_txn(txn, int(txn.due * 1000))
            for go, rnd in zip(go_backlog, rounds):
                go.wait()
                for txn in rnd:
                    txn.due = time.time()
                    yield txn.end_lsn, gen.encode_txn(txn, int(txn.due * 1000))
            go_live.wait()
            t0 = time.time() + 0.1
            for i, txn in enumerate(live):
                txn.due = t0 + i * interval
                delay = txn.due - time.time()
                if delay > 0:
                    time.sleep(delay)
                res["late"].append(max(0.0, time.time() - txn.due))
                yield txn.end_lsn, gen.encode_txn(txn, int(txn.due * 1000))

        mock = MockWalSender(feed(), relations=[gen.relation_frame()])
        server = WalServer(mock, consistent_lsn=warm[0].lsn - 0x100,
                           xlogpos=live[-1].end_lsn)
        tailer = PgCdcTailer(server.url(f"perfbench_{tag}"), checkpoint_dir=ckpt)
        rep = None
        try:
            cfg = ReplicateConfig(
                replicator_id=f"perfbench-{tag}", checkpoint_dir=ckpt,
                source_format="pgoutput", source_path=tailer.segments_dir,
                source_options={"db": DB}, target_format="parquet",
                target_path=archive, trigger_processing_time=TRIGGER)
            stamps = [("", time.perf_counter())]
            res["phases"] = stamps
            rep = Replicator(spark, cfg)
            q = rep.start()
            res["query_ids"]["replicate"] = str(q.id)
            _wait_idle(q)
            # connect only now: the stand-in is silent until the first
            # warm-up transaction, and the tailer gives up after 10 s of
            # silence (see the module docstring)
            tailer.connect()
            tailer.run_forever()
            n_warm = 0
            for txn in warm:
                n_warm += len(txn.events)
                go_warm.set()
                _wait_rows(q, n_warm, timeout=60, tailer=tailer)
            _wait_idle(q)
            # each backlog round accumulates while the replicator is paused
            # (the true-pause protocol holds the stream's offset), then is
            # offered to it at once
            n_rows, n_segs = n_warm, len(warm)
            for i, (go, rnd) in enumerate(zip(go_backlog, rounds)):
                if i == WARM_ROUNDS:
                    stamps.append(("start+warm", time.perf_counter()))
                    if tracer is not None:
                        tracer.mark_timed()
                rep.pause()
                time.sleep(0.05)  # let a source poll already under way finish
                go.set()
                n_segs += len(rnd)
                n_rows += sum(len(t.events) for t in rnd)
                _wait_segments(tailer.segments_dir, n_segs, timeout=60)
                if i >= WARM_ROUNDS:
                    res["t_offer"].append(time.time())
                rep.resume()
                _wait_rows(q, n_rows, timeout=60, tailer=tailer)
                _wait_idle(q)
            stamps.append(("backlog", time.perf_counter()))
            go_live.set()
            # the stand-in ends the stream after the last live transaction,
            # so the tailer exits by design here and is not checked
            _wait_rows(q, n_rows + sum(len(t.events) for t in live), timeout=60)
            stamps.append(("live", time.perf_counter()))
        finally:
            abort.set()
            go_warm.set()
            for go in go_backlog:
                go.set()
            go_live.set()
            if rep is not None:
                rep.stop()
            tailer.stop()
            server.close()
        stamps.append(("stop", time.perf_counter()))
        res["apply"] = self._apply(spark, root, res, traced=tracer is not None)
        stamps.append(("apply", time.perf_counter()))
        return res

    def _apply(self, spark, root: str, res: dict, traced: bool) -> dict:
        from librarian_spark.streaming.envelope import parse_envelope
        from librarian_spark.streaming.materialize import MaterializeConfig, materialize

        src = os.path.join(root, "envelopes")
        os.makedirs(src)
        cfg = MaterializeConfig(
            state_dir=os.path.join(root, "state"),
            checkpoint_dir=os.path.join(root, "apply_ckpt"),
            key_cols=["id"], row_ddl=gen.CDC_ROW_DDL)
        stream = parse_envelope(
            spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).text(src),
            "value")
        q = materialize(spark, stream, cfg)
        res["query_ids"]["apply"] = str(q.id)
        out = {"cfg": cfg, "state_versions": {}}
        watcher = None
        if traced:
            # bytes of every committed state version, sampled before pruning
            stop = threading.Event()
            watcher = threading.Thread(target=_watch_state,
                                       args=(cfg.state_dir, out["state_versions"], stop))
            watcher.start()
        try:
            _wait_idle(q)
            files = sorted(os.listdir(self.apply_src))
            staged = os.path.join(root, "envelopes_staged")
            shutil.copytree(self.apply_src, staged)
            out["t_offer"] = time.time()
            for f in files:
                os.rename(os.path.join(staged, f), os.path.join(src, f))
            _wait_rows(q, len(self.apply_events), timeout=120)
            out["t_done"] = os.path.getmtime(os.path.join(cfg.state_dir, "_LATEST"))
            out["rate"] = len(self.apply_events) / (out["t_done"] - out["t_offer"])
        finally:
            q.stop()
            if watcher is not None:
                stop.set()
                watcher.join()
        return out

    # -- checks (untimed) -------------------------------------------------
    def verify(self, res: dict) -> tuple[int, int, list[str]]:
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = SparkSession.getActiveSession()
        notes = []
        want = {}
        for txn in res["warm"] + sum(res["backlog"], []) + res["live"]:
            for e in txn.events:
                want[(txn.lsn, e.key)] = e
        rows = (spark.read.parquet(res["archive"])
                .select("op", "lsn", "before", "after",
                        F.input_file_name().alias("file"))
                .collect())
        commits = sink_batch_commits(res["archive"])
        seen: dict[tuple[int, int], int] = {}
        lag_of: dict[tuple[int, int], float] = {}
        bad = 0
        for r in rows:
            img = json.loads(r["after"] or r["before"])
            k = (r["lsn"], img["id"])
            seen[k] = seen.get(k, 0) + 1
            e = want.get(k)
            if e is None or e.op != r["op"] or (e.row is not None and json.loads(r["after"]) != e.row):
                bad += 1
            lag_of[k] = commits.get(os.path.basename(r["file"]), float("nan"))
        failed = bad
        for k in want:
            if seen.get(k, 0) != 1:
                failed += 1
        if failed:
            notes.append(f"archive: {failed} events missing, duplicated or wrong "
                         f"({len(rows)} rows for {len(want)} events)")
        res["commit_of"] = lag_of
        # the materialized table equals the generator's own replay
        from librarian_spark.streaming.materialize import read_state

        got = {r["id"]: r.asDict() for r in read_state(spark, res["apply"]["cfg"]).collect()}
        res["apply"]["state_rows"] = len(got)
        expect = gen.replay(self.apply_events)
        mism = sum(1 for k in set(got) | set(expect) if got.get(k) != expect.get(k))
        if mism:
            notes.append(f"materialized table: {mism} keys differ from replay")
        return len(want) + len(expect), failed + mism, notes

    # -- metrics ----------------------------------------------------------
    def e2e(self, res: dict) -> tuple[dict, dict]:
        """Throughput is the median over the backlog rounds of events /
        (resume → commit of the round's catch-up micro-batch). Lag samples
        are transactions: a transaction's lag is the commit of the
        micro-batch carrying its last event minus its due time; p50 and tail
        are their Harrell-Davis p50 and p90."""
        from perfbench.harness import median, p50 as p50_of, percentile, tail

        commit_of = res["commit_of"]  # events missing from the archive are failed checks

        def landed(txn) -> float:
            ts = [commit_of.get((txn.lsn, e.key)) for e in txn.events]
            return float("nan") if None in ts else max(ts)

        drains = []
        for rnd, t_offer in zip(res["backlog"], res["t_offer"]):
            batch_s = max(landed(t) for t in rnd) - t_offer
            drains.append((sum(len(t.events) for t in rnd) / batch_s, batch_s))
        drain = median(r for r, _ in drains)
        lags = [landed(t) - t.due for t in res["live"]]
        lags = [x for x in lags if x == x]
        p50 = p50_of(lags)
        tv, pct, n = tail(lags)
        apply_rate = res["apply"]["rate"]
        late99 = percentile(res["late"], 99)
        n_events = sum(len(t.events) for t in res["live"])
        named = {
            "replicate_drain_events_per_s": (drain, "events/s", f"median of {len(drains)} rounds of "
                                             f"{BACKLOG_TXNS} txns, {BACKLOG_EVENTS} events"),
            "replicate_backlog_batch_s": (median(b for _, b in drains), "s",
                                          "median resume → commit of a catch-up micro-batch: "
                                          + " ".join(f"{b:.3f}" for _, b in drains)),
            "replicate_lag_p50_s": (p50, "s", f"n={n} txns ({n_events} events) at {LIVE_EVENTS_PER_S:g} events/s"),
            "replicate_lag_tail_s": (tv, "s", f"p{pct:.0f} n={n} txns: "
                                     + " ".join(f"{x:.3f}" for x in lags)),
            "cdc_apply_events_per_s": (apply_rate, "events/s", f"{len(self.apply_events)} events, {APPLY_FILES} files"),
            "loadgen.late_p99_s": (late99, "s", f"{len(res['late'])} live txns"),
        }
        st = res["phases"]
        named["phases_s"] = (st[-1][1] - st[0][1], "s", ", ".join(
            f"{b[0]} {b[1] - a[1]:.1f}" for a, b in zip(st, st[1:])))
        return {"throughput_per_s": drain, "latency_p50_s": p50, "latency_tail_s": tv}, named
