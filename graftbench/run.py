"""graft benchmark: the live moderation bot and the batch catalogue.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (graftbench/harness/build.py) into .bench_build/. This process is the
load generator: it serves the NDJSON signup feed and a fake Zulip server from
one asyncio thread, and starts the Spark JVM (graftbench.Harness) as a child
process. The last line of stdout is the result JSON. See README.md.
"""
import argparse
import asyncio
import json
import os
import re
import shutil
import statistics
import sys
import time
import urllib.parse

sys.dont_write_bytecode = True  # keep the benchmark's directories free of build output
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))
import gen  # noqa: E402

CPUS = len(os.sched_getaffinity(0))   # as `nproc` counts them; the JVM runs local[CPUS]
WARMUP_S = 10.0         # live: signups due in the first seconds after bring-up are not measured
DRAIN_S = 30.0          # live: window signups must commit (and act) this long after the window
SILENT_GRACE_S = 3.0    # traced live runs: a silent feed closes its socket after this long
DATA = os.path.join(HERE, "data")   # copies of the repo's seed-42 fixtures, sf0.1 and sf0.001
# row counts of each query's DuckDB oracle (SparkEntry.oracleSql) on those tables
BATCH_ROWS = {
    "sf0.1": {"q1_agg": 6, "q3_join": 10, "dd_minhash": 1200, "ann_brute_topk": 50,
              "st_window_counts": 3600, "web_components": 5000, "ann_recall": 50,
              "st_xcorr": 70},
    "sf0.001": {"q1_agg": 6, "q3_join": 10, "dd_minhash": 35, "ann_brute_topk": 50,
                "st_window_counts": 868, "web_components": 500, "ann_recall": 50,
                "st_xcorr": 70},
}
BATCH_QUERIES = list(BATCH_ROWS["sf0.1"])
LIVE = {"live_quiet": dict(rate=20.0, rules=10, p_match=0.05)}
WORKLOADS = list(LIVE) + ["batch_mix"]
COMMANDS = ["add", "show", "remove", "list", "namechk", "seen"]
PROBES = 1              # live: bring-ups before the measured one; setup_s takes the median of all


T_START = time.time()


def log(msg):
    print(f"[graftbench] {time.time() - T_START:6.1f}s {msg}", file=sys.stderr, flush=True)


def pct(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    x = (len(v) - 1) * q / 100.0
    i = int(x)
    return v[i] + (v[min(i + 1, len(v) - 1)] - v[i]) * (x - i)


def iso_ms(ts):
    """Spark progress timestamp ('2026-01-01T00:00:00.123Z') to epoch ms."""
    import datetime
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


# ------------------------------------------------------------------ the JVM --

class Jvm:
    """The Spark harness as a child process: stdin commands, @-lines back."""

    def __init__(self, classpath, opts, workdir):
        self.classpath, self.opts, self.workdir = classpath, opts, workdir
        self.lines = asyncio.Queue()
        self.on_progress = None   # callback for @progress lines
        self.proc = None

    async def start(self):
        add_opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
            "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
        cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                f"-Djava.io.tmpdir={self.workdir}/tmp"] + add_opens +
               ["-cp", self.classpath, "graftbench.Harness"] +
               [f"{k}={v}" for k, v in self.opts.items()])
        os.makedirs(f"{self.workdir}/tmp", exist_ok=True)
        self.stderr = open(f"{self.workdir}/jvm.log", "wb")
        self.proc = await asyncio.create_subprocess_exec(
            *cmd, stdin=asyncio.subprocess.PIPE, stdout=asyncio.subprocess.PIPE,
            stderr=self.stderr, cwd=self.workdir, limit=1 << 24)
        asyncio.get_running_loop().create_task(self._pump())

    async def _pump(self):
        while True:
            raw = await self.proc.stdout.readline()
            if not raw:
                await self.lines.put(None)
                return
            line = raw.decode("utf-8", "replace").rstrip("\n")
            if not line.startswith("@"):
                continue
            words = line[1:].split(" ", 1)
            tag, rest = words[0], (words[1] if len(words) > 1 else "")
            if tag == "progress" and self.on_progress:
                self.on_progress(rest)
            else:
                await self.lines.put((tag, rest))

    async def expect(self, tag, timeout):
        """Next @-line with this tag; an error line or exit aborts the run."""
        deadline = time.time() + timeout
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise RuntimeError(f"timed out waiting for @{tag}")
            item = await asyncio.wait_for(self.lines.get(), left)
            if item is None:
                raise RuntimeError(f"harness exited while waiting for @{tag}")
            if item[0] == "error":
                raise RuntimeError(f"harness error: {item[1]}")
            if item[0] == tag:
                return item[1]

    def send(self, line):
        self.proc.stdin.write((line + "\n").encode())

    async def close(self, timeout=60):
        if self.proc is None:
            return
        try:
            if self.proc.returncode is None:
                try:
                    self.send("exit")
                    self.proc.stdin.close()
                except (BrokenPipeError, ConnectionResetError):
                    pass
            await asyncio.wait_for(self.proc.wait(), timeout)
        except asyncio.TimeoutError:
            self.proc.kill()
            await self.proc.wait()
        finally:
            self.stderr.close()


# --------------------------------------------------- feed and fake Zulip --

class Feed:
    """One feed connection: signups written at a fixed rate, open loop.
    Line i is due at t0 + i/rate; the source's line offsets are these i."""

    def __init__(self, signups, rate):
        self.signups, self.rate = signups, rate
        self.due, self.sent, self.user, self.rule = [], [], [], []
        self.silent = False
        self.closed = asyncio.Event()
        self.t0 = None
        self.connects = 0


class Server:
    """The generator's HTTP endpoints, all on one asyncio loop:
    GET /feed/<k> (chunked NDJSON) and the Zulip API the bot uses."""

    def __init__(self):
        self.feeds = {}
        self.queues = {}          # queue id -> list of events
        self.queue_waiters = {}   # queue id -> asyncio.Event
        self.main_queue = None
        self.posts = []           # (recv time, stream, subject, content)
        self.polls = []           # (time, queue id)
        self.on_post = None
        self.releases = {}        # (queue, event id) -> release time

    async def serve(self):
        self.server = await asyncio.start_server(self._conn, "127.0.0.1", 0)
        self.port = self.server.sockets[0].getsockname()[1]

    async def _conn(self, reader, writer):
        try:
            while True:
                head = await reader.readline()
                if not head:
                    break
                method, target = head.decode("latin-1").split(" ")[:2]
                headers = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", "0"))
                body = await reader.readexactly(n) if n else b""
                path, _, query = target.partition("?")
                if path.startswith("/feed/"):
                    await self._feed(int(path[6:]), writer)
                    return
                status, payload = await self._zulip(method, path, query, body)
                writer.write(b"HTTP/1.1 %d OK\r\nContent-Type: application/json\r\n"
                             b"Content-Length: %d\r\n\r\n" % (status, len(payload)) + payload)
                await writer.drain()
        except (ConnectionError, asyncio.IncompleteReadError, asyncio.CancelledError):
            pass
        finally:
            writer.close()

    async def _feed(self, k, writer):
        f = self.feeds[k]
        f.connects += 1
        writer.write(b"HTTP/1.1 200 OK\r\nContent-Type: application/x-ndjson\r\n"
                     b"Transfer-Encoding: chunked\r\n\r\n")
        if f.t0 is None:
            f.t0 = time.time() + 0.05
        period = 1.0 / f.rate
        try:
            while not f.closed.is_set():
                now = time.time()
                if not f.silent:
                    chunk = []
                    while f.t0 + len(f.due) * period <= now:
                        line, user, rule = f.signups.next()
                        f.due.append(f.t0 + len(f.due) * period)
                        f.user.append(user)
                        f.rule.append(rule)
                        chunk.append(line)
                    if chunk:
                        data = ("\n".join(chunk) + "\n").encode()
                        writer.write(b"%x\r\n" % len(data) + data + b"\r\n")
                        await writer.drain()
                        sent = time.time()
                        f.sent.extend([sent] * len(chunk))
                nxt = f.t0 + len(f.due) * period - time.time()
                try:
                    await asyncio.wait_for(f.closed.wait(), max(nxt, 0.001))
                except asyncio.TimeoutError:
                    pass
        except ConnectionError:
            pass

    def add_command(self, text):
        q = self.main_queue
        ev = self.queues[q]
        ev.append({"id": len(ev), "type": "message",
                   "message": {"content": "@**graftbot** " + text,
                               "display_recipient": "mod", "subject": "cmd"}})
        self.queue_waiters[q].set()
        return q, len(ev) - 1

    async def _zulip(self, method, path, query, body):
        if path == "/api/v1/register":
            q = f"q{len(self.queues)}"
            self.queues[q] = []
            self.queue_waiters[q] = asyncio.Event()
            self.main_queue = q
            return 200, json.dumps({"result": "success", "queue_id": q}).encode()
        if path == "/api/v1/events":
            args = urllib.parse.parse_qs(query)
            q, last = args["queue_id"][0], int(args["last_event_id"][0])
            self.polls.append((time.time(), q))
            events, waiter = self.queues[q], self.queue_waiters[q]
            if len(events) <= last + 1:
                waiter.clear()
                try:
                    await asyncio.wait_for(waiter.wait(), 5.0)
                except asyncio.TimeoutError:
                    pass
            fresh = events[last + 1:]
            if not fresh:
                events.append({"id": len(events), "type": "heartbeat"})
                fresh = events[last + 1:]
            now = time.time()
            for e in fresh:
                self.releases.setdefault((q, e["id"]), now)
            return 200, json.dumps({"result": "success", "events": fresh}).encode()
        if path == "/api/v1/messages":
            form = urllib.parse.parse_qs(body.decode())
            post = (time.time(), form.get("to", [""])[0], form.get("subject", [""])[0],
                    form.get("content", [""])[0])
            self.posts.append(post)
            if self.on_post:
                self.on_post(post)
            return 200, b'{"result":"success"}'
        return 404, b'{"result":"error"}'


# ------------------------------------------------------------ live runs --

class Moderator:
    """One moderator, closed loop: a command, its reply, 1 s think time."""

    def __init__(self, server, rules, feed):
        self.server, self.rules, self.feed = server, rules, feed
        self.log = []              # dicts: kind, text, arg, n, release, replied, reply
        self.reply = None
        self.stop = False
        self.n = 0

    def on_post(self, post):
        if post[1] == "mod" and self.reply is not None and not self.reply.done():
            self.reply.set_result(post)

    def _command(self, kind):
        n = self.n
        name = f"mod{n}"
        if kind == "add":
            return f"signup rules add {name} if username contains zq{n}q then notify nodelay noexpiry", None
        if kind == "show":
            return f"signup rules show mod{n - 1}", None
        if kind == "remove":
            return f"signup rules remove mod{n - 2}", None
        if kind == "list":
            return "signup rules list", None
        if kind == "namechk":
            cands = [r for r in self.rules if r["kind"] in ("username_contains", "username_regex")]
            r = cands[(n // 6) % len(cands)]
            idx = int(r["name"][1:])
            user = (f"u9n{n}x{idx}y" if r["kind"] == "username_contains" else f"r{idx}_9a{n}b")
            return f"namechk {user}", user
        # seen: a username sent a few seconds ago (checked against commits afterwards)
        f = self.feed
        cut = time.time() - 6.0
        i = max((j for j in range(max(0, len(f.due) - 400), len(f.due)) if f.due[j] < cut),
                default=0)
        return f"signup seen {f.user[i]}", i

    async def run(self):
        loop = asyncio.get_running_loop()
        while not self.stop:
            kind = COMMANDS[self.n % len(COMMANDS)]
            text, arg = self._command(kind)
            self.reply = loop.create_future()
            q, eid = self.server.add_command(text)
            try:
                post = await asyncio.wait_for(self.reply, 60.0)
            except asyncio.TimeoutError:
                post = None
            self.log.append(dict(kind=kind, text=text, arg=arg, n=self.n,
                                 release=self.server.releases.get((q, eid)),
                                 replied=post[0] if post else None,
                                 reply=post[3] if post else None))
            self.n += 1
            await asyncio.sleep(1.0)

    def check(self, entry, commit_time_of_line):
        """Is the reply right? `seen` is judged against the commit of the
        username's signup: committed before the release must be seen,
        committed after the reply must not be; in between either is fine."""
        k, n, reply = entry["kind"], entry["n"], entry["reply"]
        if reply is None:
            return False
        if k == "add":
            return reply == f"Rule mod{n} added."
        if k == "show":
            return f'"name":"mod{n - 1}"' in reply and f'"pattern":"zq{n - 1}q"' in reply
        if k == "remove":
            return reply == f"Rule mod{n - 2} removed."
        if k == "list":
            return reply == ", ".join(sorted(r["name"] for r in self.rules))
        if k == "namechk":
            hits = gen.namechk_expect(entry["arg"], self.rules)
            want = "; ".join(f"{h} -> notify" for h in hits) or "No rule matches that username."
            return reply == want
        i = entry["arg"]
        user = self.feed.user[i]
        seen, unseen = f"Seen: {user} (1 events)", "Username not seen recently"
        c = commit_time_of_line(i)
        if c is not None and c < entry["release"]:
            return reply == seen
        if c is None or c > entry["replied"]:
            return reply == unseen
        return reply in (seen, unseen)


async def live_run(args, spec, classpath, wd):
    rules, matchable = gen.make_rules(spec["rules"], args.seed)
    rules_path = f"{wd}/rules"
    gen.write_rule_store(rules, rules_path)
    server = Server()
    await server.serve()
    url = f"http://127.0.0.1:{server.port}"
    jvm = Jvm(classpath, {"mode": "live", "cpus": CPUS, "trace": args.trace,
                          "localDir": f"{wd}/spark-local"}, wd)
    progress = {}     # instance -> list of progress records

    def on_progress(rest):
        k, gc, heap, js = rest.split(" ", 3)
        p = json.loads(js)
        src = p["sources"][0] if p.get("sources") else {}
        start = int(src["startOffset"]) if src.get("startOffset") is not None else 0
        end = int(src["endOffset"]) if src.get("endOffset") is not None else start
        d = p.get("durationMs", {})
        rec = dict(batch=p["batchId"], start=start, end=end, rows=p["numInputRows"],
                   trigger_ms=iso_ms(p["timestamp"]), dur=d,
                   commit_ms=iso_ms(p["timestamp"]) + d.get("triggerExecution", 0),
                   gc=float(gc), heap=float(heap))
        progress.setdefault(int(k), []).append(rec)

    jvm.on_progress = on_progress
    result = {}
    try:
        await jvm.start()
        session_s = float(await jvm.expect("session", 120))
        bringups, shutdowns = [], []
        silent_s = None
        main = PROBES + 1
        for k in range(1, main + 1):
            feed = Feed(gen.SignupStream(args.seed, k, matchable, spec["p_match"]), spec["rate"])
            server.feeds[k] = feed
            inst = f"{wd}/i{k}"
            jvm.send(f"start {k} {inst} {url}/feed/{k} {url} {rules_path}")
            called = int((await jvm.expect("started", 120)).split()[1])
            deadline = time.time() + 60
            while not any(r["rows"] > 0 for r in progress.get(k, [])):
                if time.time() > deadline:
                    raise RuntimeError(f"instance {k} committed no batch")
                await asyncio.sleep(0.02)
            ready_ms = next(r["commit_ms"] for r in progress[k] if r["rows"] > 0)
            bringups.append((ready_ms - called) / 1000.0)
            log(f"instance {k} up after {bringups[-1]:.2f} s")
            if k == main:
                break
            if args.trace and k == PROBES:
                # known defect: shutdown() waits while an open feed is silent
                feed.silent = True
                asyncio.get_running_loop().call_later(SILENT_GRACE_S, feed.closed.set)
                jvm.send(f"stop {k}")
                silent_s = float((await jvm.expect("stopped", 120)).split()[1])
            else:
                feed.closed.set()
                await asyncio.sleep(0.05)
                jvm.send(f"stop {k}")
                shutdowns.append(float((await jvm.expect("stopped", 120)).split()[1]))
        feed = server.feeds[main]
        win_start = ready_ms / 1000.0 + WARMUP_S
        win_end = win_start + args.seconds
        mod = Moderator(server, rules, feed)
        server.on_post = mod.on_post
        mod_task = asyncio.get_running_loop().create_task(mod.run())
        await asyncio.sleep(max(0.0, win_end - time.time()))
        log("window closed")
        first = next(i for i, d in enumerate(feed.due) if d >= win_start)
        last = max(i for i, d in enumerate(feed.due) if d < win_end)
        window = range(first, last + 1)
        expected = {feed.user[i]: feed.rule[i] for i in window if feed.rule[i]}

        def actions_for(users):
            got = {}
            for t, to, _, content in server.posts:
                m = re.match(r"action notify on (\S+) \(rule (\S+)\)", content)
                if to == "notify" and m and m.group(1) in users:
                    got.setdefault(m.group(1), []).append((t, m.group(2)))
            return got

        deadline = win_end + DRAIN_S
        while time.time() < deadline:
            done = max((r["end"] for r in progress.get(main, [])), default=0) > last
            if done and len(actions_for(expected)) >= len(expected):
                break
            await asyncio.sleep(0.1)
        mod.stop = True
        await asyncio.wait_for(mod_task, 70)
        log("drained; batch ms after bring-up: " + " ".join(
            f"{(r['trigger_ms'] / 1000 - win_start + WARMUP_S):.0f}:{r['dur'].get('triggerExecution', 0)}"
            for r in progress[main] if r["rows"] > 0))
        state = dir_stats(f"{wd}/i{main}")
        feed.closed.set()
        await asyncio.sleep(0.05)
        jvm.send(f"stop {main}")
        shutdowns.append(float((await jvm.expect("stopped", 120)).split()[1]))
        log("stopped")
        trace = None
        if args.trace:
            jvm.send(f"dump {wd}/trace.json")
            await jvm.expect("dumped", 120)
            trace = json.load(open(f"{wd}/trace.json"))
        result = live_metrics(args, server, feed, progress[main], window, expected,
                              actions_for, mod, session_s, bringups, shutdowns,
                              silent_s, state, trace, wd, win_start, win_end)
    finally:
        server.server.close()
        await jvm.close()
        for f in server.feeds.values():
            f.closed.set()
    return result


def dir_stats(path):
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def live_metrics(args, server, feed, prog, window, expected, actions_for, mod,
                 session_s, bringups, shutdowns, silent_s, state, trace, wd, win_start, win_end):
    prog = sorted(prog, key=lambda r: r["batch"])
    data = [r for r in prog if r["end"] > r["start"]]

    def commit_of(i):
        for r in data:
            if r["start"] <= i < r["end"]:
                return r["commit_ms"] / 1000.0
        return None

    lat, failed = [], 0
    for i in window:
        c = commit_of(i)
        if c is None:
            failed += 1
        else:
            lat.append((c - feed.due[i]) * 1000.0)
    # actions: every matching signup exactly one post; no post for other signups
    window_users = {feed.user[i] for i in window}
    got = actions_for(window_users)
    act = []
    for user, posts in got.items():
        rule = expected.get(user)
        if rule is None or len(posts) != 1 or posts[0][1] != rule:
            failed += 1
        else:
            i = feed.user.index(user, window.start)
            act.append((posts[0][0] - feed.due[i]) * 1000.0)
    failed += sum(1 for u in expected if u not in got)
    attempted = len(window)
    cmd = []
    for e in mod.log:
        if e["release"] is None or not (win_start <= e["release"] < win_end):
            continue
        attempted += 1
        if mod.check(e, commit_of):
            cmd.append(dict(kind=e["kind"], ms=(e["replied"] - e["release"]) * 1000.0))
        else:
            failed += 1
            log(f"command failed: {e['text']!r} -> {e['reply']!r}")
    # batches whose trigger started inside the window
    wb = [r for r in prog if win_start * 1000 <= r["trigger_ms"] < win_end * 1000]
    wbd = [r for r in wb if r["rows"] > 0]
    # committed signups per second: slope of the committed offset between
    # the first and the last commit inside the window
    wc = [r for r in data if win_start * 1000 <= r["commit_ms"] < win_end * 1000]
    events_per_s = ((wc[-1]["end"] - wc[0]["end"]) * 1000.0 /
                    (wc[-1]["commit_ms"] - wc[0]["commit_ms"])) if len(wc) > 1 else 0.0
    e2e = {
        "latency_p50_ms": pct(lat, 50), "latency_p90_ms": pct(lat, 90),
        "throughput_per_s": events_per_s,
        "setup_s": session_s + statistics.median(bringups),
    }
    out = dict(correct=failed == 0, attempted=attempted, failed=failed, e2e=e2e)
    if not args.trace:
        return out
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update({
        "event_p50_ms": pct(lat, 50), "event_p90_ms": pct(lat, 90),
        "action_p50_ms": pct(act, 50) if act else 0.0,
        "command_p50_ms": pct([c["ms"] for c in cmd], 50) if cmd else 0.0,
        "events_per_s": events_per_s,
    })
    for k in COMMANDS:
        v = [c["ms"] for c in cmd if c["kind"] == k]
        layer[f"command.{k}_ms_p50"] = pct(v, 50) if v else 0.0
    # sources: lag = lines the feed had written by a batch's commit beyond its end
    lags = []
    for r in wbd:
        written = sum(1 for s in feed.sent if s * 1000.0 <= r["commit_ms"])
        lags.append(max(0, written - r["end"]))
    layer["sources.lag_lines_p50"] = pct(lags, 50)
    layer["sources.lines_per_batch_p50"] = pct([r["rows"] for r in wbd], 50)
    layer["sources.connects"] = feed.connects
    layer["streaming.batches"] = len(wbd)
    for ph in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
               "commitOffsets", "latestOffset"):
        layer[f"streaming.{ph}_ms"] = pct([r["dur"].get(ph, 0) for r in wbd], 50)
    busy = sum(r["dur"].get("triggerExecution", 0) for r in wb)
    layer["streaming.busy_share"] = busy / 1000.0 / (win_end - win_start)
    # zulip
    notify = sorted(p[0] for p in server.posts if p[1] == "notify" and win_start <= p[0] < win_end)
    layer["zulip.posts"] = len(notify)
    gaps = [(b - a) * 1000.0 for a, b in zip(notify, notify[1:]) if b - a < 1.0]
    layer["zulip.post_gap_ms_p50"] = pct(gaps, 50) if gaps else 0.0
    layer["zulip.polls"] = sum(1 for t, q in server.polls if win_start <= t < win_end
                               and q == server.main_queue)
    layer["state.files"], layer["state.bytes"] = state
    # jvm and harness
    if wb:
        layer["jvm.gc_ms"] = wb[-1]["gc"] - wb[0]["gc"]
        layer["jvm.heap_used_mb_max"] = max(r["heap"] for r in wb)
    late = [(feed.sent[i] - feed.due[i]) * 1000.0 for i in window if i < len(feed.sent)]
    layer["gen.late_ms_p99"] = pct(late, 99)
    layer["app.start_s"] = statistics.median(bringups)
    layer["app.shutdown_s"] = statistics.median(shutdowns)
    layer["app.shutdown_silent_s"] = silent_s or 0.0
    layer.update(micro_batch_layers(trace, wd, wbd, win_start, win_end))
    out["layers"] = layer
    return out


def classify(e, wd):
    """The layer of one SQL execution inside a micro-batch, by the data path
    it writes, else the one it reads."""
    w = e["writes"].rstrip("/")
    if w:
        for suffix, layer in (("/events", "event_log"), ("/pending", "stage"),
                              ("/dispatched", "log")):
            if w.endswith(suffix):
                return layer
        return "other"
    reads = " ".join(e["reads"])
    if f"{wd}/rules" in reads:
        return "reload"
    if "/dispatched" in reads:
        return "dispatch"
    if "/pending" in reads:
        return "clock"
    return "other"


def micro_batch_layers(trace, wd, wbd, win_start, win_end):
    out = {}
    if not trace or not wbd:
        return out
    jobs_by_exec = {}
    for j in trace["jobs"]:
        jobs_by_exec.setdefault(j["exec"], []).append(j)
    batch_of_exec = {}
    for j in trace["jobs"]:
        if j["batch"] and j["exec"] >= 0:
            batch_of_exec[j["exec"]] = int(j["batch"])
    roots = {}
    for e in trace["execs"]:
        if e["id"] in batch_of_exec:
            roots.setdefault(e["root"], batch_of_exec[e["id"]])
    batches = {r["batch"] for r in wbd}
    per = {k: 0.0 for k in ("reload", "event_log", "stage", "clock", "dispatch", "log", "other")}
    reload_jobs = other_execs = 0
    for e in trace["execs"]:
        b = batch_of_exec.get(e["id"], roots.get(e["root"]))
        if b not in batches or e["id"] == e["root"] or e["end"] < 0:
            continue
        layer = classify(e, wd)
        per[layer] += e["end"] - e["start"]
        if layer == "reload":
            reload_jobs += len(jobs_by_exec.get(e["id"], []))
        if layer == "other":
            other_execs += 1
    n = len(batches)
    stage_ids = set()
    jobs = 0
    for j in trace["jobs"]:
        if j["batch"] and int(j["batch"]) in batches:
            jobs += 1
            stage_ids.update(j["stages"])
    cpu = sum(trace["stages"].get(str(s), {}).get("cpu_ns", 0) for s in stage_ids)
    out["rules.reload_ms_per_batch"] = per["reload"] / n
    out["rules.reload_jobs_per_batch"] = reload_jobs / n
    out["graftapp.event_log_ms_per_batch"] = per["event_log"] / n
    for k in ("stage", "clock", "dispatch", "log"):
        out[f"actions.{k}_ms_per_batch"] = per[k] / n
    out["other.exec_ms_per_batch"] = per["other"] / n
    out["other.execs_per_batch"] = other_execs / n
    add = sum(r["dur"].get("addBatch", 0) for r in wbd) / n
    named = sum(per[k] for k in ("reload", "event_log", "stage", "clock", "dispatch", "log"))
    out["driver.other_ms_per_batch"] = add - named / n
    out["streaming.jobs_per_batch"] = jobs / n
    out["streaming.task_cpu_ms_per_batch"] = cpu / 1e6 / n
    out["trace.overhead_pct"] = 100.0 * trace["callback_ms"] / 1000.0 / (win_end - win_start)
    return out


# ------------------------------------------------------------ batch runs --

async def batch_run(args, classpath, wd):
    opts = {"mode": "batch", "cpus": CPUS, "trace": args.trace, "data": f"{DATA}/sf0.1",
            "warmData": f"{DATA}/sf0.001", "queries": ",".join(BATCH_QUERIES),
            "seconds": args.seconds,
            "localDir": f"{wd}/spark-local"}
    if args.trace:
        opts["dump"] = f"{wd}/trace.json"
    jvm = Jvm(classpath, opts, wd)
    rows = []
    try:
        await jvm.start()
        while True:
            item = await asyncio.wait_for(jvm.lines.get(), 170)
            if item is None:
                break
            tag, rest = item
            if tag == "error":
                raise RuntimeError(rest)
            if tag == "query":
                w = rest.split(" ")
                rows.append(dict(p=int(w[0]), q=w[1], builder=float(w[2]), exec=float(w[3]),
                                 rows=int(w[4]), status=w[5], end_ms=int(w[6]), gc=float(w[7]),
                                 heap=float(w[8])))
                log(f"pass {w[0]} {w[1]}: builder {float(w[2]):.2f} s, count {float(w[3]):.2f} s")
            elif tag == "timed":
                setup_s, timed_ms = float(rest.split()[0]), int(rest.split()[1])
                log(f"timed passes start {setup_s:.1f} s after JVM start")
            elif tag == "passes":
                break
    finally:
        await jvm.close()
    if jvm.proc.returncode != 0:
        raise RuntimeError(f"harness exited with {jvm.proc.returncode}")
    # every pass is checked, the untimed one on sf0.001 too
    failed = 0
    for r in rows:
        want = BATCH_ROWS["sf0.001" if r["p"] < 0 else "sf0.1"][r["q"]]
        if r["status"] != "ok" or r["rows"] != want:
            failed += 1
            log(f"query failed: pass {r['p']} {r['q']} {r['status']} rows={r['rows']} "
                f"expected={want}")
    timed = [r for r in rows if r["p"] >= 0]
    passes = sorted({r["p"] for r in timed})
    # the unit of work is a pass: the time from input to all eight results
    pass_s = [sum(r["builder"] + r["exec"] for r in timed if r["p"] == p) for p in passes]
    e2e = {
        "latency_p50_ms": pct(pass_s, 50) * 1000.0, "latency_p90_ms": pct(pass_s, 90) * 1000.0,
        "throughput_per_s": len(timed) / sum(pass_s),
        "setup_s": setup_s,
    }
    out = dict(correct=failed == 0, attempted=len(rows), failed=failed, e2e=e2e)
    if not args.trace:
        return out
    layer = {k: 0.0 for k in PER_LAYER}
    layer["batch_s"] = statistics.median(pass_s)
    trace = json.load(open(f"{wd}/trace.json"))
    layer.update(batch_layers(trace, timed, passes))
    layer["jvm.gc_ms"] = timed[-1]["gc"] - [r for r in rows if r["p"] < 0][-1]["gc"]
    layer["jvm.heap_used_mb_max"] = max(r["heap"] for r in timed)
    span = (timed[-1]["end_ms"] - timed_ms) / 1000.0
    layer["trace.overhead_pct"] = 100.0 * trace["callback_ms"] / 1000.0 / max(span, 1e-9)
    out["layers"] = layer
    return out


def batch_layers(trace, timed, passes):
    out = {}
    jobs_by_group = {}
    for j in trace["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    plan_by_group = {}
    for e in trace["execs"]:
        if e["plan_ms"] > 0:
            plan_by_group[e["group"]] = plan_by_group.get(e["group"], 0.0) + e["plan_ms"]
    tot = {"jobs": 0.0, "builder_s": 0.0, "exec_s": 0.0}
    for q in BATCH_QUERIES:
        recs = {k: [] for k in ("builder_s", "plan_s", "exec_s", "jobs", "task_cpu_s",
                                "shuffle_bytes")}
        for r in timed:
            if r["q"] != q:
                continue
            g = f"q|{r['p']}|{q}"
            js = jobs_by_group.get(g, [])
            st = [trace["stages"].get(str(s), {}) for j in js for s in j["stages"]]
            recs["builder_s"].append(r["builder"])
            recs["exec_s"].append(r["exec"])
            recs["plan_s"].append(plan_by_group.get(g, 0.0) / 1000.0)
            recs["jobs"].append(len(js))
            recs["task_cpu_s"].append(sum(s.get("cpu_ns", 0) for s in st) / 1e9)
            recs["shuffle_bytes"].append(sum(s.get("shuffle_write", 0) for s in st))
        for k, v in recs.items():
            out[f"batch.{q}.{k}"] = statistics.median(v) if v else 0.0
        tot["jobs"] += out[f"batch.{q}.jobs"]
        tot["builder_s"] += out[f"batch.{q}.builder_s"]
        tot["exec_s"] += out[f"batch.{q}.exec_s"]
    for k, v in tot.items():
        out[f"batch.{k}"] = v
    return out


PER_LAYER = (
    ["event_p50_ms", "event_p90_ms", "action_p50_ms", "command_p50_ms", "events_per_s",
     "batch_s",
     "sources.lag_lines_p50", "sources.lines_per_batch_p50", "sources.connects",
     "streaming.batches"] +
    [f"streaming.{p}_ms" for p in ("triggerExecution", "addBatch", "queryPlanning",
                                   "walCommit", "commitOffsets", "latestOffset")] +
    ["streaming.jobs_per_batch", "streaming.task_cpu_ms_per_batch", "streaming.busy_share",
     "rules.reload_ms_per_batch", "rules.reload_jobs_per_batch",
     "graftapp.event_log_ms_per_batch"] +
    [f"actions.{k}_ms_per_batch" for k in ("stage", "clock", "dispatch", "log")] +
    ["other.exec_ms_per_batch", "other.execs_per_batch", "driver.other_ms_per_batch",
     "zulip.posts", "zulip.post_gap_ms_p50", "zulip.polls"] +
    [f"command.{k}_ms_p50" for k in COMMANDS] +
    ["state.files", "state.bytes"] +
    [f"batch.{q}.{k}" for q in BATCH_QUERIES
     for k in ("builder_s", "plan_s", "exec_s", "jobs", "task_cpu_s", "shuffle_bytes")] +
    ["batch.jobs", "batch.builder_s", "batch.exec_s",
     "jvm.gc_ms", "jvm.heap_used_mb_max", "gen.late_ms_p99", "app.start_s", "app.shutdown_s",
     "app.shutdown_silent_s", "trace.overhead_pct"])


# ----------------------------------------------------------------- main --

def units():
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    import build
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 1
    e2e_units, layer_units = units()
    wd = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    try:
        if args.workload in LIVE:
            res = asyncio.run(live_run(args, LIVE[args.workload], classpath, wd))
        else:
            res = asyncio.run(batch_run(args, classpath, wd))
    except Exception as e:  # noqa: BLE001 - any failure ends the run without a result
        log(f"run failed: {type(e).__name__}: {e}")
        if os.path.exists(f"{wd}/jvm.log"):
            kept = os.path.join(build.BUILD_DIR, f"failed-{args.workload}-jvm.log")
            shutil.copyfile(f"{wd}/jvm.log", kept)
            sys.stderr.write("".join(open(kept, errors="replace").readlines()[-40:]))
            log(f"full JVM log: {kept}")
        return 1
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
