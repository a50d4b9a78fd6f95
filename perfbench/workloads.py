"""The two workloads. Each drives the engine process through its public
surfaces, checks every answer, and fills a Result.

- realtime: one session serves dashboards and ingests events. Dashboards:
  6 query templates over static sf0.1 tables with seeded literals (rare
  exact repeats), an open loop at a fixed rate, then a closed loop of
  `nproc` clients. Ingest: a pre-written backlog of KDG events drained
  (catch-up), then a generator writing at the reference's 2-shard Kinesis
  rate under a 1 s trigger while one client polls the sink for freshness,
  so micro-batches and broker reads of the sink share the scheduler.
  Stresses graft.server, the broker rewrite, Catalyst and graft rules, job
  scheduling and graft.streaming; the declared-query operators are
  bypassed.
- analytics: one client runs a fixed list of declared queries, whole passes
  in sorted-name order after clearCache, each into the noop sink.
  Iteration- and shuffle-bound operator work; broker and ingest bypassed.

Each workload runs its measured phase untraced for the end-to-end metrics.
A traced run repeats the phase with tracing on (spans, in-process replays
of broker requests, listener readings) for the per-layer metrics, and
reports tracing overhead as traced minus untraced.

The end-to-end slots both workloads fill: latency_p50_ms and
latency_tail_ms are dashboard request latency from the due time (realtime)
and declared-query wall (analytics); work_s is the wall of a fixed amount
of work: draining the backlog (realtime) and one pass of the query list
(analytics).
"""
import os
import random
import threading
import time

import checks
import gen
import loadgen
import stats


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []          # first failure descriptions
        self.e2e = {}             # name -> (value, unit, n, pct)
        self.layers = {}          # name -> (value, unit, n, pct)
        self.record = {}          # full record, written to a file

    def op(self, error):
        """Count one checked operation; error is None when it was correct."""
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(error)


def _ms(records, key="latency_s"):
    return [r[key] * 1000.0 for r in records if "error" not in r]


def _latency(prefix, values, failed=0, tail_name=None):
    """{prefix_p50_ms, tail} entries; failures count beyond any limit."""
    tail, pct, n = stats.tail(values, failed)
    return {f"{prefix}_p50_ms": (stats.median(values), "ms", n, 50.0),
            tail_name or f"{prefix}_p95_ms": (tail, "ms", n, pct)}


def _traced(ctx, res, phase, untraced):
    """Repeat a measured phase with tracing on. Returns its data, wall and
    the listener's counters over it; records the tracing overhead."""
    ctx.post("/stats", {"reset": True})
    ctx.post("/trace", {})
    ctx.tracing = True
    t0 = time.time()
    e2e, data = phase("t")
    wall = time.time() - t0
    for name, (v, unit, _, _) in e2e.items():
        res.layers[f"trace_overhead.{name}"] = (v - untraced[name][0], unit, None, None)
    return data, wall, ctx.post("/stats", {})


def _broker_send(ctx, clients, answers):
    """send(worker, item) for the load loops: one POST /query/sql and, on a
    traced phase, the in-process replay of the same text."""
    def send(w, item):
        payload = {"sql": item["sql"]}
        if item.get("options"):
            payload["queryOptions"] = item["options"]
        ctx.history.append(item["sql"])
        t0 = time.time_ns()
        status, body, size = clients[w].post("/query/sql", payload)
        t1 = time.time_ns()
        rec = {"status": status, "bytes": size, "time_used_ms": body.get("timeUsedMs"),
               "exceptions": body.get("exceptions") or []}
        answers[item["req"]] = body.get("resultTable", {}).get("rows")
        if ctx.tracing:
            ctx.spans.append({"name": "client.request", "id": item["req"], "parent": "",
                              "req": item["req"], "start": t0, "end": t1})
            rec["replay"] = ctx.control_clients[w].post(
                "/replay", {"sql": item["sql"], "req": item["req"]})[1]
        return rec
    return send


def _answer_error(rec, what):
    if "error" in rec:
        return f"{what}: {rec['error']}"
    if rec["status"] != 200 or rec["exceptions"]:
        return f"{what}: HTTP {rec['status']} {rec['exceptions'][:1]}"
    return None


# -- per-layer readings --------------------------------------------------------

def _server_layers(res, records):
    """graft.server: engine time is the response's timeUsedMs, overhead is
    client latency from send minus it."""
    ok = [r for r in records if "error" not in r and r.get("time_used_ms") is not None]
    engine = [float(r["time_used_ms"]) for r in ok]
    overhead = [(r["done"] - r["sent"]) * 1000.0 - float(r["time_used_ms"]) for r in ok]
    t, p, n = stats.tail(engine)
    res.layers["server.overhead_p50_ms"] = (stats.median(overhead), "ms", len(ok), 50.0)
    res.layers["server.engine_p50_ms"] = (stats.median(engine), "ms", len(ok), 50.0)
    res.layers["server.engine_p95_ms"] = (t, "ms", n, p)
    res.layers["server.response_kb_mean"] = (sum(r["bytes"] for r in ok) / len(ok) / 1024.0, "KB", len(ok), None)


def _plan_layers(res, plans):
    """Catalyst phases (QueryPlanningTracker, whole milliseconds) and the
    graft rules' RuleSummary totals."""
    for ph in ("parsing", "analysis", "optimization", "planning"):
        xs = [float(p[f"{ph}_ms"]) for p in plans if f"{ph}_ms" in p]
        short = "parse" if ph == "parsing" else ph
        res.layers[f"plan.{short}_ms_p50"] = (stats.median(xs) if xs else 0.0, "ms", len(xs), 50.0)
    catalyst = [sum(p.get(f"{ph}_ms", 0) for ph in ("analysis", "optimization", "planning")) for p in plans]
    res.layers["plan.catalyst_ms_mean"] = (sum(catalyst) / len(catalyst), "ms", len(catalyst), None)
    inv = sum(p["graft_rule_invocations"] for p in plans)
    eff = sum(p["graft_rule_effective"] for p in plans)
    res.layers["plan.graft_rules_ms"] = (sum(p["graft_rules_ns"] for p in plans) / 1e6, "ms", len(plans), None)
    res.layers["plan.graft_rules_effective_ratio"] = (eff / inv if inv else 0.0, "ratio", inv, None)


def _exec_layers(res, ctx, snap, n_queries, wall_s):
    """Spark execution from the benchmark's SparkListener: counts and task
    times of the benchmark's own job groups, busy share of all tasks."""
    b, a = snap["bench"], snap["all"]
    q = max(1, n_queries)
    res.layers["exec.jobs_per_query"] = (b["jobs"] / q, "count", n_queries, None)
    res.layers["exec.stages_per_query"] = (b["stages"] / q, "count", n_queries, None)
    res.layers["exec.tasks_per_query"] = (b["tasks"] / q, "count", n_queries, None)
    res.layers["exec.task_cpu_s"] = (b["task_cpu_ns"] / 1e9, "s", b["tasks"], None)
    res.layers["exec.task_run_s"] = (b["task_run_ms"] / 1e3, "s", b["tasks"], None)
    res.layers["exec.task_wait_s"] = (b["task_wait_ms"] / 1e3, "s", b["tasks"], None)
    res.layers["exec.gc_s"] = (b["gc_ms"] / 1e3, "s", b["tasks"], None)
    res.layers["exec.busy_ratio"] = (a["task_run_ms"] / 1e3 / (wall_s * ctx.cores), "ratio", a["tasks"], None)
    res.layers["exec.shuffle_write_mb"] = (b["shuffle_write_bytes"] / 1e6, "MB", b["tasks"], None)
    res.layers["exec.shuffle_read_mb"] = (b["shuffle_read_bytes"] / 1e6, "MB", b["tasks"], None)
    res.layers["exec.spill_mb"] = (b["spill_bytes"] / 1e6, "MB", b["tasks"], None)
    seen = b["stages"] + b["stages_skipped"]
    res.layers["exec.stages_skipped_ratio"] = (b["stages_skipped"] / seen if seen else 0.0, "ratio", seen, None)
    res.layers["exec.tasks_failed"] = (float(a["tasks_failed"]), "count", a["tasks"], None)


def _replay_layers(res, ctx, records, wall_s, snap):
    """Rewrite, Catalyst, scan and execution readings of replayed broker
    requests, and the layers' sum for comparison with client latency."""
    ok = [r for r in records if "error" not in r and "replay" in r and "error" not in r["replay"]]
    reps = [r["replay"] for r in ok]
    res.layers["rewrite.us_p50"] = (stats.median([r["rewrite_us"] for r in reps]), "us", len(reps), 50.0)
    _plan_layers(res, reps)
    res.layers["scan.rows_per_result"] = (
        stats.median([r["scan_rows"] / max(1, r["result_rows"]) for r in reps]), "ratio", len(reps), 50.0)
    res.layers["scan.files"] = (float(sum(r["scan_files"] for r in reps)), "count", len(reps), None)
    res.layers["scan.rows"] = (float(sum(r["scan_rows"] for r in reps)), "count", len(reps), None)
    _exec_layers(res, ctx, snap, len(reps), wall_s)
    # server overhead + parse/analysis + collect (optimization, planning,
    # execution), next to the client's latency from send
    res.layers["layers.accounted_p50_ms"] = (stats.median(
        [(r["done"] - r["sent"]) * 1000.0 - r["time_used_ms"] + r["replay"].get("parsing_ms", 0)
         + r["replay"].get("analysis_ms", 0) + r["replay"]["collect_ms"] for r in ok]), "ms", len(ok), 50.0)
    res.layers["layers.client_p50_ms"] = (stats.median(
        [(r["done"] - r["sent"]) * 1000.0 for r in ok]), "ms", len(ok), 50.0)


def _loadgen_layers(res, ctx, start):
    """Requests since history index `start`, and the share of them whose
    exact text (broker SQL, or declared-query name) already ran earlier in
    the session, warm-up included."""
    seen, repeats = set(ctx.history[:start]), 0
    for text in ctx.history[start:]:
        repeats += text in seen
        seen.add(text)
    n = len(ctx.history) - start
    res.layers["loadgen.requests"] = (float(n), "count", n, None)
    res.layers["loadgen.exact_repeat_share"] = (repeats / n, "ratio", n, None)


# -- realtime: dashboards and ingest on one session ------------------------------

def _day(d):
    return f"2024-01-{d + 1:02d} 00:00:00"


def dashboard_query(rng, kind):
    """(template, broker SQL, DuckDB SQL) of one dashboard request."""
    if kind == 0:  # revenue by event_type per day over a range
        a = rng.randrange(0, 23)
        b = a + rng.randrange(3, 8)
        sql = ("SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS d, count(*) AS n, "
               f"sum(value) AS revenue FROM events WHERE ts >= TIMESTAMP '{_day(a)}' "
               f"AND ts < TIMESTAMP '{_day(b)}' GROUP BY event_type, CAST(date_trunc('DAY', ts) AS DATE) "
               "ORDER BY d, event_type")
        return "revenue_by_day", sql, sql
    if kind == 1:  # top users
        et = rng.choice(gen.EVENT_TYPES.tolist())
        a = rng.randrange(0, 25)
        sql = ("SELECT user_id, count(*) AS n, sum(value) AS revenue FROM events "
               f"WHERE event_type = '{et}' AND ts >= TIMESTAMP '{_day(a)}' "
               "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10")
        return "top_users", sql, sql
    if kind == 2:  # filtered count
        y = rng.randrange(1995, 2001)
        d = rng.randrange(1, 10)
        q = rng.randrange(10, 50)
        sql = ("SELECT count(*) AS n, sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
               f"WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
               f"AND l_discount BETWEEN CAST({(d - 1) / 100:.2f} AS DOUBLE) AND CAST({(d + 1) / 100:.2f} AS DOUBLE) "
               f"AND l_quantity < CAST({q} AS DOUBLE)")
        return "filtered_count", sql, sql
    if kind == 3:  # star join rolled up by region and nation
        y = rng.randrange(1995, 2001)
        m = rng.randrange(1, 7)
        span = rng.randrange(1, 7)
        seg = rng.choice(gen.SEGMENTS.tolist())
        sql = ("SELECT r_name, n_name, count(*) AS n, sum(o_totalprice) AS total FROM orders "
               "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
               "JOIN region ON n_regionkey = r_regionkey "
               f"WHERE o_orderdate >= TIMESTAMP '{y}-{m:02d}-01 00:00:00' "
               f"AND o_orderdate < TIMESTAMP '{y}-{m + span:02d}-01 00:00:00' AND c_mktsegment = '{seg}' "
               "GROUP BY r_name, n_name ORDER BY r_name, n_name")
        return "star_rollup", sql, sql
    if kind == 4:  # ~1000-row listing: JSON rendering does real work
        c = rng.randrange(0, 14_000)
        sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_date, "
               f"o_orderpriority FROM orders WHERE o_custkey BETWEEN {c} AND {c + 119} "
               "ORDER BY o_orderkey LIMIT 1000")
        return "listing", sql, sql
    # Pinot dialect: a SET prefix and string-unit timestampAdd put the
    # broker rewrite on the path
    k = rng.randrange(1, 15)
    b = rng.randrange(15, 30)
    tail = " GROUP BY event_type ORDER BY event_type"
    broker = ("SET useMultistageEngine = true; SELECT event_type, count(*) AS n, sum(value) AS revenue "
              f"FROM events WHERE ts >= timestampAdd('DAY', -{k}, TIMESTAMP '{_day(b)}') "
              f"AND ts < TIMESTAMP '{_day(b)}'" + tail)
    duck = ("SELECT event_type, count(*) AS n, sum(value) AS revenue FROM events "
            f"WHERE ts >= TIMESTAMP '{_day(b)}' - INTERVAL {k} DAY AND ts < TIMESTAMP '{_day(b)}'" + tail)
    return "pinot_dialect", broker, duck


N_TEMPLATES = 6


def dashboard_requests(rng, n, prefix, cfg):
    """n requests cycling through the templates in a fixed order, so every
    seed offers the same mix; the literals and which requests carry a
    timeoutMs query option are drawn from the seed."""
    items = []
    for i in range(n):
        name, sql, duck = dashboard_query(rng, i % N_TEMPLATES)
        item = {"req": f"{prefix}{i}", "template": name, "sql": sql, "duck": duck}
        if rng.random() < cfg["timeout_share"]:
            item["options"] = f"timeoutMs={cfg['timeout_ms']}"
        items.append(item)
    return items


def run_realtime(ctx, res):
    cfg = ctx.cfg["realtime"]
    rng = random.Random(ctx.seed)
    events = gen.KdgEvents(ctx.seed)
    dirs = {k: os.path.join(ctx.run_dir, k) for k in (
        "source", "stage", "sink", "checkpoint", "warm_source", "warm_sink", "warm_checkpoint")}
    for p in dirs.values():
        os.makedirs(p, exist_ok=True)
    res.record["setup"] = ctx.setup(cfg["tables"], [], broker=True)
    answers = {}
    con = checks.duck(ctx.data_dir)
    duck_cache = {}

    def check_dashboard(records, items):
        for rec, item in zip(records, items):
            err = _answer_error(rec, item["template"])
            if err is None:
                if item["duck"] not in duck_cache:
                    duck_cache[item["duck"]] = checks.duck_rows(con, item["duck"])
                diff = checks.same_rows(answers.get(item["req"]) or [], duck_cache[item["duck"]])
                err = diff and f"{item['template']}: {diff}"
            res.op(err)

    # fixed-literal check set: each answer against a direct spark.sql collect
    # of the same text, and against DuckDB
    clients = [loadgen.Client(ctx.broker_port) for _ in range(ctx.cores)]
    send = _broker_send(ctx, clients, answers)
    for k in range(N_TEMPLATES):
        name, sql, duck = dashboard_query(random.Random(k), k)
        item = {"req": f"check{k}", "template": name, "sql": sql, "duck": duck}
        check_dashboard([send(0, item)], [item])
        diff = checks.same_rows(answers.get(item["req"]) or [], ctx.post("/sql", {"sql": sql})["rows"])
        res.op(diff and f"check {name} vs spark.sql: {diff}")
    # untimed warm-up: the first executions of each template still run
    # partly interpreted, which would make the measured latency depend on how
    # far compilation got
    warm = dashboard_requests(rng, cfg["warmup_requests"], "w", cfg)
    warm_recs, warm_s = loadgen.closed_loop(send, warm, ctx.cores)
    check_dashboard(warm_recs, warm)
    for c in clients:
        c.close()

    prefixes = checks.Prefixes()
    written = []  # (time written, cumulative rows after this file)
    n_file = [0]

    def write_file(src, rows, track=True):
        body, st = events.file(rows)
        name = f"events-{n_file[0]:06d}.json"
        n_file[0] += 1
        stage = os.path.join(dirs["stage"], name)
        with open(stage, "w") as f:
            f.write(body)
        os.rename(stage, os.path.join(src, name))  # atomic: the reader sees whole files
        if track:
            prefixes.add(st)
            written.append((time.time(), prefixes.rows[-1]))

    ingest = {"max_files_per_trigger": cfg["max_files_per_trigger"],
              "source": dirs["source"], "sink": dirs["sink"], "checkpoint": dirs["checkpoint"]}
    poll_sql = f"SELECT count(*) AS n, sum(price) AS revenue FROM parquet.`{dirs['sink']}`"

    # untimed warm-up of the ingest path and of sink reads, on a separate table
    for _ in range(cfg["warmup_files"]):
        write_file(dirs["warm_source"], cfg["backlog_rows_per_file"], track=False)
    warm_s += ctx.post("/ingest_catchup", dict(ingest, source=dirs["warm_source"], sink=dirs["warm_sink"],
                                               checkpoint=dirs["warm_checkpoint"]))["wall_s"]
    warm = loadgen.Client(ctx.broker_port)
    t0 = time.time()
    warm.post("/query/sql", {"sql": poll_sql.replace(dirs["sink"], dirs["warm_sink"])})
    warm_s += time.time() - t0
    warm.close()
    ctx.warmed(warm_s)

    # catch-up: drain a fixed pre-written backlog, as after resumeConsumption;
    # several rounds, each from the table's checkpoint, and their median
    catches = []
    for _ in range(cfg["catchup_rounds"]):
        before = prefixes.rows[-1]
        for _ in range(cfg["backlog_files"]):
            write_file(dirs["source"], cfg["backlog_rows_per_file"])
        catch = ctx.post("/ingest_catchup", ingest)
        backlog = prefixes.rows[-1] - before
        res.op(catch.get("error") or (None if catch["rows"] == backlog
                                      else f"catch-up committed {catch['rows']} of {backlog} rows"))
        catches.append(catch)
    ctx.mark("catchup")
    drain = stats.median([c["wall_s"] for c in catches])
    res.e2e["work_s"] = (drain, "s", len(catches), 50.0)
    res.e2e["catchup_rows_per_s"] = (backlog / drain, "rows/s", len(catches), 50.0)
    res.record["catchup"] = catches

    def phase(tag):
        """Dashboards, then ingest, each for the run's seconds. Dashboards:
        an open loop at a fixed rate on every client, then a closed-loop
        batch. Ingest: live events with one client polling the sink for
        freshness."""
        clients = [loadgen.Client(ctx.broker_port) for _ in range(ctx.cores)]
        send = _broker_send(ctx, clients, answers)
        rate = cfg["offered_qps"]
        items = dashboard_requests(rng, int(rate * ctx.seconds), f"{tag}o", cfg)
        open_recs = loadgen.open_loop(send, items, loadgen.uniform_offsets(rate, ctx.seconds), ctx.cores)
        closed = dashboard_requests(rng, cfg["closed_requests"], f"{tag}c", cfg)
        closed_recs, wall = loadgen.closed_loop(send, closed, ctx.cores)
        ctx.mark(f"{tag}_dashboards")

        first_file, rows_before = len(written), prefixes.rows[-1]
        ctx.post("/ingest_start", dict(ingest, trigger_ms=cfg["trigger_ms"]))
        generated = threading.Event()
        rows_per_file = int(cfg["event_rate"] / cfg["files_per_s"])
        t0 = time.time() + 0.1

        def generator():
            for i in range(int(cfg["files_per_s"] * ctx.seconds)):
                delay = t0 + i / cfg["files_per_s"] - time.time()
                if delay > 0:
                    time.sleep(delay)
                write_file(dirs["source"], rows_per_file)
            generated.set()

        polls = []

        def poller():
            # client 0, one poll at a time and at most one per poll_interval_s,
            # until an answer holds every written row
            deadline = None
            while True:
                item = {"req": f"{tag}p{len(polls)}", "sql": poll_sql}
                if polls:
                    time.sleep(max(0.0, polls[-1]["sent"] + cfg["poll_interval_s"] - time.time()))
                sent = time.time()
                try:
                    rec = send(0, item)
                except Exception as e:
                    rec = {"error": f"{type(e).__name__}: {e}"}
                rec.update(sent=sent, done=time.time(), req=item["req"])
                polls.append(rec)
                if generated.is_set():
                    deadline = deadline or time.time() + cfg["drain_timeout_s"]
                    if (answers.get(item["req"]) or [[0]])[0][0] == prefixes.rows[-1] or time.time() > deadline:
                        return

        threads = [threading.Thread(target=generator), threading.Thread(target=poller)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        stop = ctx.post("/ingest_stop", {"expect_rows": prefixes.rows[-1] - rows_before, "sink": dirs["sink"],
                                         "timeout_s": cfg["drain_timeout_s"]})
        for c in clients:
            c.close()
        ctx.mark(f"{tag}_live")
        files = written[first_file:]

        check_dashboard(open_recs, items)
        check_dashboard(closed_recs, closed)
        # exactly-once: the sink holds every generated row once
        res.op(stop.get("error") or (
            None if (stop["rows"], stop["price_sum"]) == (prefixes.rows[-1], prefixes.price[-1])
            else f"sink has {stop['rows']} rows / price {stop['price_sum']}, "
                 f"generator wrote {prefixes.rows[-1]} / {prefixes.price[-1]}"))
        # every count read during ingest equals a committed prefix of the files
        for p in polls:
            rows = answers.get(p.get("req")) or [[None, None]]
            res.op(_answer_error(p, "poll") or prefixes.check_total(rows[0][0], rows[0][1]))
        # freshness: file write to the first completed answer holding all its rows
        fresh = []
        done = sorted((p for p in polls if _answer_error(p, "") is None), key=lambda p: p["done"])
        j = 0
        for t_write, cum in files:
            while j < len(done) and (answers.get(done[j]["req"]) or [[0]])[0][0] < cum:
                j += 1
            if j < len(done):
                fresh.append((done[j]["done"] - t_write) * 1000.0)
        missed = len(files) - len(fresh)
        if missed:
            res.op(f"{missed} files never seen by a completed poll")
        lat = _ms(open_recs)
        e2e = _latency("latency", lat, len(open_recs) - len(lat), "latency_tail_ms")
        e2e.update(_latency("query", lat, len(open_recs) - len(lat)))
        e2e.update(_latency("freshness", fresh, missed))
        e2e["saturated_qps"] = (len(closed) / wall, "req/s", len(closed), None)
        return e2e, (files, polls, items + closed, open_recs, closed_recs, stop)

    e2e, (files, polls, _, open_recs, closed_recs, stop) = phase("u")
    res.e2e.update(e2e)
    res.record.update(live_files=files, polls=polls, open_loop=open_recs, closed_loop=closed_recs, ingest=stop)
    if ctx.trace:
        start = len(ctx.history)
        (files, polls, _, open_recs, closed_recs, stop), wall, snap = _traced(ctx, res, phase, e2e)
        recs = polls + open_recs + closed_recs
        _server_layers(res, recs)
        _replay_layers(res, ctx, recs, wall, snap)
        late = _ms(open_recs, "late_s")
        t, p, n = stats.tail(late)
        res.layers["loadgen.late_p95_ms"] = (t, "ms", n, p)
        _loadgen_layers(res, ctx, start)
        _ingest_layers(res, stop["progress"], [b for c in catches for b in c["progress"]], files, polls)


def _ingest_layers(res, progress, catchup_progress, files, polls):
    """graft.streaming from StreamingQueryProgress: batch phase times, rows
    per batch, and for each file the wait from its write to the start of
    the batch that read it (files commit in write order, so a batch's files
    follow from the cumulative committed row count)."""
    batches = sorted((b for b in progress if b["num_input_rows"] > 0), key=lambda b: b["start_ms"])
    res.layers["ingest.batches"] = (float(len(batches)), "count", len(batches), None)
    res.layers["ingest.rows_per_batch_p50"] = (
        stats.median([b["num_input_rows"] for b in batches]), "count", len(batches), 50.0)
    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                      ("commitOffsets", "commit_offsets"), ("latestOffset", "latest_offset"),
                      ("getBatch", "get_batch"), ("queryPlanning", "query_planning")):
        xs = [b["duration_ms"][key] for b in batches if key in b["duration_ms"]]
        res.layers[f"ingest.{name}_ms_p50"] = (stats.median(xs) if xs else 0.0, "ms", len(xs), 50.0)
    cum = files[0][1] - (files[1][1] - files[0][1])  # committed rows before the phase
    waits, backlog, fi = [], [], 0
    for b in batches:
        start = b["start_ms"] / 1000.0
        backlog.append(sum(1 for t, c in files if t <= start and c > cum))
        cum += b["num_input_rows"]
        while fi < len(files) and files[fi][1] <= cum:
            waits.append((start - files[fi][0]) * 1000.0)
            fi += 1
    res.layers["ingest.trigger_wait_ms_p50"] = (stats.median(waits), "ms", len(waits), 50.0)
    res.layers["ingest.backlog_files_max"] = (float(max(backlog)), "count", len(backlog), None)
    poll_ms = [(p["done"] - p["sent"]) * 1000.0 for p in polls if "error" not in p]
    res.layers["ingest.poll_ms_p50"] = (stats.median(poll_ms), "ms", len(poll_ms), 50.0)
    drained = [b for b in catchup_progress if b["num_input_rows"] > 0]
    busy_s = sum(b["duration_ms"].get("triggerExecution", 0) for b in drained) / 1000.0
    res.layers["ingest.rows_per_s_drain"] = (
        sum(b["num_input_rows"] for b in drained) / busy_s, "rows/s", len(drained), None)


# -- analytics -----------------------------------------------------------------

def run_analytics(ctx, res):
    cfg = ctx.cfg["analytics"]
    queries = sorted(cfg["queries"])
    # declared queries read their tables themselves; a bring-up builds the
    # derived layouts they serve from
    res.record["setup"] = ctx.setup([], cfg["layout_queries"], broker=False)
    oracle_dir = os.path.join(ctx.run_dir, "oracle")
    # untimed warm pass, checked against the DuckDB oracles
    warm = ctx.post("/analytics_pass", {"data": ctx.data_dir, "queries": queries, "oracle_dir": oracle_dir})
    ctx.history += queries
    ctx.warmed(sum(q["wall_s"] for q in warm["queries"]))
    oracle_sql = ctx.post("/oracle_sql", {"queries": queries})
    con = checks.duck(ctx.data_dir)
    result_rows = 0
    for q in warm["queries"]:
        out = os.path.join(oracle_dir, q["name"])
        if not q["ok"]:
            err = f"{q['name']}: {q.get('error')}"
        elif q["name"] not in oracle_sql:
            err = f"{q['name']}: no oracle"
        else:
            try:
                err = checks.oracle_mismatch(con, oracle_sql[q["name"]], out)
            except Exception as e:
                err = f"oracle check raised {type(e).__name__}: {e}"
            err = err and f"{q['name']}: {err}"
        res.op(err)
        if err is None:
            result_rows += checks.parquet_rows(out)
    res.record["warm_pass"] = warm
    ctx.mark("oracle_checked")

    def phase(tag):
        """Whole passes while the next one is expected to end within the
        run's measuring time; at least one."""
        passes = []
        t0 = time.time()
        while not passes or (time.time() - t0) * (len(passes) + 1) / len(passes) <= ctx.seconds:
            p = ctx.post("/analytics_pass", {"data": ctx.data_dir, "queries": queries})
            ctx.history += queries
            for q in p["queries"]:
                res.op(None if q["ok"] else f"{q['name']}: {q.get('error')}")
            passes.append(p)
        walls = {q: [] for q in queries}
        suites = []
        for p in passes:
            ok = [q for q in p["queries"] if q["ok"]]
            suites.append(sum(q["wall_s"] for q in ok))
            for q in ok:
                walls[q["name"]].append(q["wall_s"])
        per_query = {q: stats.median(w) for q, w in walls.items() if w}
        lat = [w * 1000.0 for ws in walls.values() for w in ws]
        e2e = _latency("latency", lat, tail_name="latency_tail_ms")
        e2e["work_s"] = e2e["suite_s"] = (stats.median(suites), "s", len(passes), None)
        e2e["suite_geomean_s"] = (stats.geomean(per_query.values()), "s", len(per_query), None)
        return e2e, (passes, per_query)

    e2e, (passes, _) = phase("u")
    res.e2e.update(e2e)
    res.record["passes"] = passes
    if ctx.trace:
        start = len(ctx.history)
        (passes, per_query), wall, snap = _traced(ctx, res, phase, e2e)
        n = len(queries) * len(passes)
        plans = [p for tp in passes for p in tp.get("plans", [])]
        _plan_layers(res, plans)
        scan_rows = sum(p["scan_rows"] for p in plans) / len(passes)
        res.layers["scan.rows"] = (scan_rows, "count", len(plans), None)
        res.layers["scan.files"] = (sum(p["scan_files"] for p in plans) / len(passes), "count", len(plans), None)
        res.layers["scan.rows_per_result"] = (scan_rows / max(1, result_rows), "ratio", len(queries), None)
        _exec_layers(res, ctx, snap, n, wall)
        _loadgen_layers(res, ctx, start)
        for q, w in per_query.items():
            res.layers[f"query.{q}_s"] = (w, "s", len(passes), None)
        for q in cfg["shuffle_queries"]:
            mb = snap["group_shuffle_bytes"].get(f"bench-q-{q}", 0) / 1e6 / len(passes)
            res.layers[f"query.{q}.shuffle_mb"] = (mb, "MB", len(passes), None)


WORKLOADS = {"realtime": run_realtime, "analytics": run_analytics}
