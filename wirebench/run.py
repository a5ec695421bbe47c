#!/usr/bin/env python3
"""Wire-level benchmark of the graft PG server.

Builds the program from source, generates the data from --seed, starts the
shipped server (graft.ServeMain) on a fresh warehouse, drives it from one
connection over TCP with PG protocol v3, checks every answer against
DuckDB or against totals the client keeps, and prints one JSON result as
the last line of stdout. Progress goes to stderr.

  python3 wirebench/run.py --workload tpch_repeat --seed 1 --seconds 15 --trace 0

Workloads (README.md says why each exists):
  tpch_repeat   the 22 TPC-H statements with fixed literals, simple protocol
  ingest_mixed  COPY batches and small transactions beside dashboard reads
  tpch_adhoc    the 22 templates with seeded literals, extended protocol
With --trace 1 the server runs with Spark listeners from wirebench/trace
and the result holds the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import ctypes
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import pgwire  # noqa: E402
import tpch  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (the list in build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# ingest_mixed: the dashboard statements read after the writes of a cycle
DASHBOARD = ["q03", "q06", "q14", "q19"]
COPY_ROWS = 20000
# Warm rounds per run: --seconds over a nominal round length (a warm round
# on a 4-core host), and at least MIN_WARM. The count depends on --seconds
# alone, never on the host's speed, because an operation is timed by its
# fastest warm round and more rounds would read faster.
MIN_WARM = 3
ROUND_S = {"tpch_repeat": 7.0, "tpch_adhoc": 16.0, "ingest_mixed": 3.0}
TXN_ROWS = 5


def log(*a):
    print("[wirebench]", *a, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "trace")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program with sbt and the trace classes with javac once
    per source state; returns (program classpath, trace classes dir)."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("wirebench: no build.sbt next to wirebench/; "
                         "run from the root of a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp, stamp_file = _stamp(), os.path.join(WORK, "build.stamp")
    cp_file, trace_dir = os.path.join(WORK, "classpath"), os.path.join(WORK, "trace-classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), trace_dir
    log("building the program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(os.path.join(WORK, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=blog, text=True, timeout=850)
        blog.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"wirebench: sbt build failed, see {WORK}/build.log")
    cp = lines[-1].strip()
    shutil.rmtree(trace_dir, ignore_errors=True)
    srcs = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(HERE, "trace"))
            for f in fs if f.endswith(".java")]
    subprocess.run(["javac", "-nowarn", "-d", trace_dir, "-cp", cp] + srcs, check=True,
                   stdin=subprocess.DEVNULL, stdout=sys.stderr, timeout=300)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, trace_dir


# ---- server ----------------------------------------------------------------

def _die_with_parent():
    # the server dies with this process even when this process is killed
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One graft.ServeMain process on a fresh warehouse under `run_dir`."""

    def __init__(self, cp, run_dir, data_dir, trace_file=None):
        self.port = _free_port()
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        self.warehouse = os.path.join(run_dir, "warehouse")
        props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
        if trace_file:
            props += ["-Dspark.extraListeners=wirebench.TraceListener",
                      "-Dspark.sql.queryExecutionListeners=wirebench.TraceListener",
                      f"-Dwirebench.trace.out={trace_file}"]
        cmd = ["java", *ADD_OPENS, "-Xmx3g", *props, "-cp", cp,
               "graft.ServeMain", str(self.port), data_dir]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                   GRAFT_WAREHOUSE=self.warehouse)
        self.log = open(os.path.join(run_dir, "server.log"), "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                     stdout=self.log, stderr=self.log,
                                     start_new_session=True, preexec_fn=_die_with_parent)

    def connect(self, timeout=170):
        """Polls until the server accepts; returns (conn, seconds from
        launch to the first ReadyForQuery)."""
        deadline = self.t0 + timeout
        while True:
            try:
                conn = pgwire.Conn("127.0.0.1", self.port)
                return conn, time.perf_counter() - self.t0
            except (ConnectionRefusedError, ConnectionResetError):
                if self.proc.poll() is not None:
                    raise SystemExit(f"wirebench: server exited with {self.proc.returncode}")
                if time.perf_counter() > deadline:
                    raise SystemExit("wirebench: server did not start in time")
                time.sleep(0.02)

    def cpu_s(self):
        """User plus system CPU seconds the server has used so far."""
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def stop(self):
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
            except ProcessLookupError:
                pass
        self.proc.wait()
        if not self.log.closed:
            self.log.close()


# ---- answers -----------------------------------------------------------------

def _same_value(text, oid, want):
    if text is None or want is None:
        return text is None and want is None
    if oid in (20, 21, 23, 26):
        return int(text) == want
    if oid in (700, 701, 1700):
        got, want = float(text), float(want)
        return got == want or abs(got - want) <= 1e-9 * max(abs(got), abs(want))
    if oid in (1114, 1184):
        return text[:19] == str(want)[:19]
    return text == str(want)


def same_rows(res, want):
    """Server Result against DuckDB rows: in order, or as a multiset when
    only tied rows are ordered differently."""
    def eq(rows):
        return all(len(g) == len(w) and all(_same_value(t, o, v) for t, o, v
                                            in zip(g, res.oids, w))
                   for g, w in zip(rows, want))
    if len(res.rows) != len(want):
        return False
    if eq(res.rows):
        return True

    def key(row):
        # one sort order for both sides: numbers by value, the rest as text
        out = []
        for v, oid in zip(row, res.oids):
            num = v is not None and oid in NUMERIC_OIDS
            out.append((0, float(v), "") if num else (1, 0.0, str(v)[:19]))
        return out
    want = sorted(want, key=key)
    return eq(sorted(res.rows, key=key))


NUMERIC_OIDS = (20, 21, 23, 700, 701, 1700)


def canonical(fields, oids):
    """A row's values in one text form: numbers by value (the server may
    spell the same numeric value as 9099312 or 9.099312e+06), the rest as
    sent."""
    out = []
    for v, oid in zip(fields, oids):
        if v is not None and oid in NUMERIC_OIDS:
            d = decimal.Decimal(v)
            v = str(int(d)) if d == d.to_integral_value() else str(d.normalize())
        out.append(v)
    return "\t".join(out).encode()


def row_sum(lines):
    """Order-independent checksum of rows: (count, sum of crc32)."""
    return len(lines), sum(zlib.crc32(l) for l in lines) & 0xFFFFFFFFFFFFFFFF


# ---- workloads ---------------------------------------------------------------

class Op:
    """One client operation: its reply, the round it belongs to
    ("setup", "first", "warm" or "end") and the check of its answer."""
    __slots__ = ("kind", "name", "sql", "text", "reply", "phase", "pos", "check", "ok",
                 "note", "res", "files", "bytes")

    def __init__(self, kind, name, sql, text, reply, phase, pos, check):
        self.kind, self.name, self.sql, self.reply, self.phase = kind, name, sql, reply, phase
        self.pos = pos  # place in its round: the same operation in every round
        self.text = text  # the statement as the server translates it
        self.check, self.ok, self.note, self.res = check, None, "", None
        self.files = self.bytes = 0


def _listing(path):
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Client:
    """Sends operations in a closed loop on one connection. With `warehouse`
    set (traced runs), lists it around each write to count what it left."""

    def __init__(self, conn, warehouse=None, server=None):
        self.conn, self.ops, self.warehouse = conn, [], warehouse
        self.server, self.pos = server, 0
        self._last = self._probe()

    def _probe(self):
        return (self.server.cpu_s() if self.server else 0.0), host_steal_s()

    def mark(self, label, wall):
        """Logs a round's wall time beside the server CPU time and the
        host's steal time it took."""
        self.pos = 0
        now = self._probe()
        cpu, steal = now[0] - self._last[0], now[1] - self._last[1]
        self._last = now
        log(f"{label}: wall {wall:.2f} s, server cpu {cpu:.2f} s, host steal {steal:.2f} s")

    def send(self, kind, name, sql, phase, check, params=None, copy_data=None):
        before = _listing(self.warehouse) if self.warehouse and kind == "write" else None
        if params is not None:
            reply = self.conn.extended(sql, params)
        else:
            reply = self.conn.simple(sql, copy_data)
        text = sql if params is None else tpch.bind(sql, params)
        op = Op(kind, name, sql, text, reply, phase, self.pos, check)
        self.pos += 1
        if before is not None:
            after = _listing(self.warehouse)
            new = [p for p in after if after[p] != before.get(p)]
            op.files, op.bytes = len(new), sum(after[p] for p in new)
        self.ops.append(op)
        return op


def tag_is(tag):
    return lambda res: res.tags == [tag]


def host_steal_s():
    """CPU seconds the hypervisor took from this machine since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def warm_rounds(workload, seconds):
    return max(MIN_WARM, round(seconds / ROUND_S[workload]))


def run_tpch(client, checker, rounds, seed, adhoc):
    """One cold sweep of the 22 statements, then `rounds` warm sweeps.
    Returns (first sweep s, warm sweep times)."""
    rng = random.Random(seed)

    def sweep(phase):
        t = time.perf_counter()
        for q in tpch.NAMES:
            if adhoc:
                p = tpch.draw(q, rng)
                client.send("read", q, tpch.TEMPLATES[q], phase,
                            checker.rows(tpch.bind(tpch.TEMPLATES[q], p)), params=p)
            else:
                sql = tpch.bind(tpch.TEMPLATES[q], tpch.DEFAULTS[q])
                client.send("read", q, sql, phase, checker.rows(sql))
        wall = time.perf_counter() - t
        client.mark(phase, wall)
        return wall

    first = sweep("first")
    return first, [sweep("warm") for _ in range(rounds)]


class Ledger:
    """The client's model of the store table: every row it committed."""
    COLUMNS = "id bigint, account integer, amount_cents bigint, note text"

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_id = 1
        self.count = self.amount = self.ids = self.text_bytes = 0
        self.lines = []

    def rows(self, n):
        out = []
        for _ in range(n):
            out.append((self.next_id, self.rng.randrange(1000),
                        self.rng.randrange(-10_000_000, 10_000_000),
                        "n%08x" % self.rng.getrandbits(32)))
            self.next_id += 1
        return out

    def commit(self, rows):
        for r in rows:
            line = ("%d\t%d\t%d\t%s" % r).encode()
            self.count += 1
            self.amount += r[2]
            self.ids += r[0]
            self.text_bytes += len(line) + 1
            self.lines.append(line)


def run_ingest(client, checker, rounds, seed):
    """CREATE TABLE, then cycles of a COPY batch, a committed and a
    rolled-back transaction, an aggregate after each write and the
    dashboard reads; ends with a SELECT * and a COPY TO of the table.
    Returns (first cycle s, warm cycle times, ledger)."""
    led = Ledger(seed)
    dash = [(q, tpch.bind(tpch.TEMPLATES[q], tpch.DEFAULTS[q])) for q in DASHBOARD]
    client.send("write", "create", f"CREATE TABLE ledger ({Ledger.COLUMNS})", "setup",
                tag_is("CREATE TABLE"))

    def agg(phase):
        want = [led.count, led.amount, led.ids]
        client.send("read", "ledger_agg",
                    "SELECT count(*), sum(amount_cents), sum(id) FROM ledger", phase,
                    lambda res: len(res.rows) == 1 and
                    [int(float(v)) for v in res.rows[0]] == want)

    def txn(phase, commit):
        rows = led.rows(2 * TXN_ROWS)
        client.send("write", "begin", "BEGIN", phase, tag_is("BEGIN"))
        for half in (rows[:TXN_ROWS], rows[TXN_ROWS:]):
            values = ", ".join("(%d, %d, %d, '%s')" % r for r in half)
            client.send("write", "insert", f"INSERT INTO ledger VALUES {values}", phase,
                        tag_is(f"INSERT 0 {TXN_ROWS}"))
        end = "COMMIT" if commit else "ROLLBACK"
        client.send("write", end.lower(), end, phase, tag_is(end))
        if commit:
            led.commit(rows)

    def cycle(phase):
        t = time.perf_counter()
        rows = led.rows(COPY_ROWS)
        data = b"".join(b"%d\t%d\t%d\t%s\n" % (a, b, c, d.encode()) for a, b, c, d in rows)
        client.send("write", "copy_in", "COPY ledger FROM STDIN", phase,
                    tag_is(f"COPY {COPY_ROWS}"),
                    copy_data=[data[i:i + 65536] for i in range(0, len(data), 65536)])
        led.commit(rows)
        agg(phase)
        txn(phase, commit=True)
        agg(phase)
        txn(phase, commit=False)
        agg(phase)
        for q, sql in dash:
            client.send("read", q, sql, phase, checker.rows(sql))
        wall = time.perf_counter() - t
        client.mark(phase, wall)
        return wall

    first = cycle("first")
    cycles = [cycle("warm") for _ in range(rounds)]
    want = row_sum(led.lines)
    want_select = checker.checksum(want)
    select = client.send("read", "export_select", "SELECT * FROM ledger", "end",
                         lambda res: row_sum(
                             [canonical(r, res.oids) for r in res.rows]) == want_select)
    # COPY text carries no types: decode its fields with the SELECT's
    client.send("read", "export_copy", "COPY ledger TO STDOUT", "end",
                lambda res: row_sum([canonical(l.rstrip(b"\n").decode().split("\t"),
                                               select.res.oids)
                                     for l in res.copy_lines]) == want)
    return first, cycles, led


def stat_check(client):
    """pg_stat_statements must count, per statement text, the calls the
    client made and the rows it received."""
    sent = {}
    for op in client.ops:
        if op.kind == "read":
            key = op.sql.strip()
            calls, rows = sent.get(key, (0, 0))
            res = op.res or pgwire.decode(op.reply.raw)
            sent[key] = (calls + 1, rows + len(res.rows) + len(res.copy_lines))

    def check(res):
        seen = {r[0].strip(): (int(r[1]), int(float(r[2]))) for r in res.rows}
        bad = [k for k, v in sent.items() if seen.get(k) != v]
        for k in bad[:3]:
            log("pg_stat_statements differs:", seen.get(k), "!=", sent[k], k[:60])
        return not bad
    client.send("read", "pg_stat", "SELECT query, calls, rows FROM pg_stat_statements",
                "end", check)


# ---- checks ------------------------------------------------------------------

class Checker:
    """Reference answers from DuckDB over the same Parquet files. Checks are
    evaluated after the server has stopped, so DuckDB never competes with
    it for the CPU."""

    def __init__(self, data_dir, perturb):
        self.data_dir, self.perturb, self.cache, self.db = data_dir, perturb, {}, None
        self.left = 1 if perturb else 0  # self-test: answers still to corrupt

    def expected(self, sql):
        if self.db is None:
            import duckdb
            self.db = duckdb.connect()
            for t in datagen.TPCH_TABLES:
                path = os.path.join(self.data_dir, t + ".parquet")
                self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        if sql not in self.cache:
            self.cache[sql] = self.db.execute(sql).fetchall()
        return self.cache[sql]

    def rows(self, sql):
        def check(res):
            want = self.expected(sql)
            if self.left and want:
                # self-test: the first number of the first expected row, off by one
                self.left -= 1
                row = list(want[0])
                i = next(i for i, v in enumerate(row) if isinstance(v, (int, float)))
                row[i] += 1
                want = [tuple(row)] + want[1:]
            return same_rows(res, want)
        return check

    def checksum(self, want):
        """The expected (count, checksum) of an export; off by one in the
        self-test."""
        return (want[0], want[1] + 1) if self.perturb else want


def check_ops(ops):
    for op in ops:
        op.res = op.res or pgwire.decode(op.reply.raw)
        if op.res.errors:
            op.ok, op.note = False, op.res.errors[0]
        else:
            op.ok = bool(op.check(op.res))
            if not op.ok:
                op.note = "answer differs from the reference"
        if not op.ok:
            log(f"FAILED {op.name} ({op.phase}): {op.note}")


# ---- metrics -----------------------------------------------------------------

def _ms(s):
    return s * 1000.0


def end_to_end(setup_s, ops):
    """Each warm round repeats the same operations in the same order. An
    operation's latency is its fastest over the warm rounds: the host's
    noise only ever adds time, so the fastest round is the one least
    disturbed by it."""
    by_pos = {}
    for op in ops:
        if op.phase == "warm":
            by_pos.setdefault(op.pos, []).append(op)
    best = {p: min(_ms(op.reply.latency_s) for op in v) for p, v in by_pos.items()}
    reads = [best[p] for p, v in by_pos.items() if v[0].kind == "read"]
    return {
        "setup_s": (setup_s, "s"),
        "sweep_s": (sum(best.values()) / 1000.0, "s"),
        "stmt_geomean_ms": (math.exp(statistics.fmean(math.log(x) for x in reads)), "ms"),
    }


def read_trace(path):
    jobs, queries = [], []
    with open(path) as f:
        for line in f:
            p = line.split("\t")
            # only jobs a client connection ran; background work has no
            # connection job group
            if p[0] == "J" and p[-1].startswith("pgwire-"):
                jobs.append([float(x) for x in p[2:-1]])
            elif p[0] == "Q":
                queries.append([float(x) for x in p[1:]])
    return jobs, queries


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def translate_times(cp, trace_dir, texts, run_dir):
    path = os.path.join(run_dir, "translate.sql")
    with open(path, "w") as f:
        f.write("\n--next--\n".join(texts))
    out = subprocess.run(["java", *ADD_OPENS, "-cp", f"{trace_dir}:{cp}",
                          "wirebench.TranslateTimer", path],
                         cwd=run_dir, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=170, check=True)
    return dict(zip(texts, (float(x) for x in out.stdout.split())))


def per_layer(ops, trace_file, translate, warehouse, led):
    """Per-layer metrics of the warm rounds (and the closing exports),
    from client timings, the server's Spark listener trace and the
    warehouse listing."""
    jobs, queries = read_trace(trace_file)
    warm = [op for op in ops if op.phase == "warm"]
    reads = [op for op in warm if op.kind == "read"]
    measured = warm + [op for op in ops if op.name.startswith("export")]
    w0 = measured[0].reply.window_ms[0]
    w1 = measured[-1].reply.window_ms[1]
    # new executions are placed by the start of their first phase, jobs
    # by their start; both fall inside exactly one statement's window
    fresh = []
    for q in queries:
        if q[1] == 0:
            ph = [(q[i], q[i + 1]) for i in (2, 4, 6, 8)]
            start = min(a for a, b in ph if a >= 0) if any(a >= 0 for a, _ in ph) else q[0]
            fresh.append((start, ph))
    in_window = [q for q in queries if w0 <= q[0] <= w1]
    spans, self_ms, over = {}, [], 0
    phase_sum = [0.0] * 4
    job_tot = [0.0] * 7  # stages run, skipped, tasks, cpu ns, input, shuffle write, spill
    njobs = 0
    for op in measured:
        a, b = op.reply.window_ms
        # server stamps are whole milliseconds, rounded down: a statement's
        # work starts in [floor(send), floor(ReadyForQuery))
        lo, hi = math.floor(a), math.floor(b) - 0.5
        mine = [j for j in jobs if lo <= j[0] <= hi]
        ivs = [(j[0], j[1]) for j in mine]
        njobs += len(mine)
        for j in mine:
            for k in range(7):
                job_tot[k] += j[2 + k]
        ex = _union(ivs)
        cat = []
        for start, ph in fresh:
            if lo <= start <= hi:
                for i, (x, y) in enumerate(ph):
                    if x >= 0:
                        phase_sum[i] += y - x
                        cat.append((x, y))
        span = _union(ivs + cat)
        lat = _ms(op.reply.latency_s)
        if span > lat + 2:
            over += 1
            log(f"server span {span:.0f} ms > client latency {lat:.0f} ms: {op.name}")
        spans[id(op)] = ex
        if op.kind == "read" and op.phase == "warm":
            self_ms.append(lat - span)
    n = len(measured)

    def rate(name, rows_of):
        sel = [op for op in measured if op.name == name]
        t = sum(op.reply.latency_s for op in sel)
        return sum(rows_of(op) for op in sel) / t if t else 0.0

    drains = [op.reply.t_done - op.reply.t_first_row for op in measured
              if op.reply.t_first_row is not None]
    firsts = [_ms(op.reply.t_first_row - op.reply.t_send) for op in reads
              if op.reply.t_first_row is not None]
    commits = [op for op in warm if op.name == "commit"]
    # BEGIN, INSERT, INSERT, COMMIT
    txn_s = sum(o.reply.latency_s for i, op in enumerate(warm) if op.name == "commit"
                for o in warm[i - 3:i + 1])
    writes = [op for op in warm if op.kind == "write"]
    stored = sum(_listing(warehouse).values())
    m = {
        "wire.first_row_ms": (statistics.median(firsts) if firsts else 0.0, "ms"),
        "wire.drain_ms": (_ms(sum(drains)), "ms"),
        "wire.bytes_out": (sum(op.reply.bytes_out for op in measured), "B"),
        "wire.bytes_in": (sum(len(op.reply.raw) for op in measured), "B"),
        "wire.copy_in_rows_per_s": (rate("copy_in", lambda op: COPY_ROWS), "rows/s"),
        "wire.export_rows_per_s": (rate("export_select", lambda op: len(op.res.rows)), "rows/s"),
        "wire.copy_out_rows_per_s": (rate("export_copy", lambda op: len(op.res.copy_lines)),
                                     "rows/s"),
        "pgdialect.translate_ms": (statistics.median(translate[op.text] for op in reads
                                                     if op.text in translate), "ms"),
        "pgdialect.plan_reuse_ratio": (sum(q[1] for q in in_window) / len(in_window)
                                       if in_window else 0.0, "ratio"),
        "catalyst.parse_ms": (phase_sum[0] / n, "ms"),
        "catalyst.analyze_ms": (phase_sum[1] / n, "ms"),
        "catalyst.optimize_ms": (phase_sum[2] / n, "ms"),
        "catalyst.plan_ms": (phase_sum[3] / n, "ms"),
        "exec.ms": (statistics.median(spans[id(op)] for op in reads), "ms"),
        "exec.jobs": (njobs / n, "count"),
        "exec.stages_run": (job_tot[0] / n, "count"),
        "exec.stages_skipped": (job_tot[1] / n, "count"),
        "exec.tasks": (job_tot[2] / n, "count"),
        "exec.task_cpu_ms": (job_tot[3] / 1e6 / n, "ms"),
        "exec.input_bytes": (job_tot[4] / n, "B"),
        "exec.shuffle_write_bytes": (job_tot[5] / n, "B"),
        "exec.spill_bytes": (job_tot[6] / n, "B"),
        "sources.commit_ms": (statistics.median(_ms(op.reply.latency_s) for op in commits)
                              if commits else 0.0, "ms"),
        "sources.commit_txn_per_s": (len(commits) / txn_s if txn_s else 0.0, "txn/s"),
        "sources.files_written": (sum(op.files for op in writes) / len(writes)
                                  if writes else 0.0, "count"),
        "sources.bytes_written": (sum(op.bytes for op in writes) / len(writes)
                                  if writes else 0.0, "B"),
        "sources.stored_bytes_per_input_byte": (stored / led.text_bytes if led else 0.0,
                                                "ratio"),
        "stmt.self_ms": (statistics.median(self_ms), "ms"),
        "stmt.span_over_latency": (over, "count"),
    }
    return m


# ---- main --------------------------------------------------------------------

def run(args):
    cp, trace_dir = build()
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    server = None
    try:
        data_dir = os.path.join(run_dir, "data")
        datagen.make_dataset(os.path.join(WORK, "tpch-sf0.1"), data_dir, args.seed)
        trace_file = os.path.join(run_dir, "trace.tsv") if args.trace else None
        server = Server(f"{trace_dir}:{cp}" if args.trace else cp, run_dir, data_dir,
                        trace_file)
        conn, setup_s = server.connect()
        log(f"setup {setup_s:.2f} s; workload {args.workload}")
        client = Client(conn, server.warehouse if args.trace else None, server)
        checker = Checker(data_dir, args.perturb)
        led = None
        n = warm_rounds(args.workload, args.seconds)
        if args.workload == "ingest_mixed":
            first, rounds, led = run_ingest(client, checker, n, args.seed)
        else:
            first, rounds = run_tpch(client, checker, n, args.seed,
                                     adhoc=args.workload == "tpch_adhoc")
        stat_check(client)
        conn.close()
        rss = server.peak_rss_mb()
        server.stop()
        ops = client.ops
        check_ops(ops)
        log(f"first sweep {first:.2f} s, warm sweeps {[round(r, 2) for r in rounds]}, "
            f"server peak RSS {rss:.0f} MB")
        per_stmt = {}
        for op in ops:
            if op.phase == "warm" and op.kind == "read":
                per_stmt.setdefault(op.name, []).append(_ms(op.reply.latency_s))
        log("fastest warm ms per statement:",
            " ".join(f"{k}={min(v):.0f}" for k, v in sorted(per_stmt.items())))
        if args.trace:
            texts = {op.text: None for op in ops if op.kind == "read" and op.phase == "warm"}
            translate = translate_times(cp, trace_dir, list(texts), run_dir)
            metrics = per_layer(ops, trace_file, translate, server.warehouse, led)
        else:
            metrics = end_to_end(setup_s, ops)
        failed = sum(1 for op in ops if not op.ok)
        result = {
            # a wrong answer makes the run incorrect; an error only fails its op
            "correct": all(op.ok or op.res.errors for op in ops),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tpch_repeat", "tpch_adhoc", "ingest_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="self-test: corrupt one expected answer and one export checksum")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    raise SystemExit(run(args))


if __name__ == "__main__":
    main()
