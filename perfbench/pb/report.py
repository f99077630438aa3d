"""Turn a JVM run record into metrics and verdicts.

`suite(rec, digests)` and `service(rec, corpus_dir)` each return a
Report: the end-to-end metrics (from the untraced part of the run), the
per-layer metrics (from its traced part), the attempted and failed
operation counts, each failure with its id and exception class, and
every output mismatch."""
import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

from . import digest as dg
from . import stats

NS_MS = 1e6


@dataclass
class Report:
    end_to_end: dict = field(default_factory=dict)   # name -> (value, unit)
    detail: dict = field(default_factory=dict)       # workload-specific extras
    per_layer: dict = field(default_factory=dict)    # name -> (value, unit)
    attempted: int = 0
    failures: list = field(default_factory=list)     # "id: Class: message"
    mismatches: list = field(default_factory=list)   # "id: what differs"

    @property
    def failed(self):
        return len(self.failures) + len(self.mismatches)


def percentiles(prefix, values):
    """{prefix_pNN_ms: (value, "ms", note)} for the median and the highest
    percentile with at least ten samples beyond it (stats.MIN_BEYOND);
    nothing for a percentile with fewer, so the names depend on the
    sample count."""
    n = len(values)
    top = stats.highest_reportable(n)
    if top is None:
        return {}
    return {f"{prefix}_p{p}_ms": (stats.percentile(values, p), "ms", f"n={n}")
            for p in sorted({50, top})}


def mean(values):
    return statistics.fmean(values) if values else 0.0


def common(rep, rec, lat_ms, ops_per_s, setup_wall_s, n_ops):
    """The metrics every workload reports. The gated end-to-end ones are
    CPU times: on a shared host the wall times of one build spread by up
    to a third across runs, more than BENCHMARK.json's bounds allow, its
    CPU times by about a tenth. The wall times are printed beside them."""
    n = len(lat_ms)
    run = rec["run"]
    rep.end_to_end.update({
        "cpu_ms_per_op": (1000.0 * run["timed_cpu_s"] / max(1, n_ops), "ms"),
        "setup_s": (run["setup_cpu_s"], "s"),
    })
    rep.detail.update({
        **percentiles("latency", lat_ms),
        "ops_per_s": (ops_per_s, "1/s"),
        "setup_wall_s": (setup_wall_s, "s"),
        "rss_peak_mb": (rec["meta"]["rss_peak_kb"] / 1024.0, "MB"),
    })
    rep.detail["latency_samples"] = n
    rep.detail["highest_reportable_percentile"] = stats.highest_reportable(n)


def layer_self_times(reqs, roots):
    """Mean self time (ms) per span name over requests, and the mean
    wall (ms) of the root span, the first span named in `roots`. `reqs`
    maps request -> [(name, s, e)]; spans outside the root are dropped."""
    tot, walls = {}, []
    for spans in reqs.values():
        found = [sp for sp in spans if sp[0] in roots]
        if not found:
            continue
        r = found[0]
        inside = [(n, max(s, r[1]), min(e, r[2])) for n, s, e in spans if e > r[1] and s < r[2]]
        for name, t in stats.self_times(inside).items():
            tot[name] = tot.get(name, 0) + t / NS_MS
        walls.append((r[2] - r[1]) / NS_MS)
    k = max(1, len(walls))
    return {n: t / k for n, t in tot.items()}, mean(walls)


# --------------------------------------------------------------- suite

SUITE_SUMS = {  # per-query counters, reported as means per query
    "queries.build_jobs": ("build_jobs", "count"),
    "codegen.janino_ms": ("janino_ms", "ms"),
    "sched.jobs": ("jobs", "count"),
    "sched.stages": ("stages", "count"),
    "sched.tasks": ("tasks", "count"),
    "sched.task_wait_ms": ("task_wait_ms", "ms"),
    "sched.broadcasts": ("broadcasts", "count"),
    "exec.task_cpu_ms": ("task_cpu_ms", "ms"),
    "exec.task_run_ms": ("task_run_ms", "ms"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
    "exec.peak_exec_mem_bytes": ("peak_exec_mem_bytes", "bytes"),
    "exec.gc_ms": ("gc_ms", "ms"),
}


def suite(rec, digests):
    run = rec["run"]
    rep = Report()
    # a query that throws has no output to check: that is a wrong output
    for name, err in run["digest_failures"].items():
        rep.mismatches.append(f"{name} (digest pass): no result: {err}")
    for name in run["queries"]:
        want = digests.get(name)
        if name in run["digest_failures"]:
            continue
        if want is None:
            rep.mismatches.append(f"{name}: no committed oracle digest")
            continue
        try:
            rows, got = dg.parquet_digest(Path(run["results_dir"], name))
        except Exception as e:  # unreadable result counts as a mismatch
            rep.mismatches.append(f"{name}: result unreadable: {type(e).__name__}: {e}")
            continue
        if (rows, got) != (want["rows"], want["sha256"]):
            rep.mismatches.append(
                f"{name}: {rows} rows, digest {got[:12]} != oracle {want['rows']} rows, "
                f"{want['sha256'][:12]}")
    ops = run["ops"]
    rep.attempted = len(ops) + len(run["queries"])
    for o in ops:
        if o["err"] is not None:
            rep.mismatches.append(f"{o['q']}#{o['pass']}: no result: {o['err']}")
    plain = [o for o in ops if not o["traced"]]
    lat = [(o["t1"] - o["t0"]) / NS_MS for o in plain if o["err"] is None]
    walls = [p["wall_s"] for p in run["passes"] if not p["traced"]]
    setup = rec["boot_s"] + run["setup_s"]
    common(rep, rec, lat, len(lat) / sum(walls) if walls else 0.0, setup, len(ops))
    rep.detail.update({
        "suite_s": (statistics.median(walls) if walls else 0.0, "s"),
        "timed_passes": len(walls),
        "digest_pass_s": run["digest_pass_s"],
        "warm_pass_s": run["warm_pass_s"],
    })
    rep.per_layer.update({
        "tables.pin_s": (run["pin_s"], "s"),
        "tables.cache_mem_bytes": (run["cache_mem_bytes"], "bytes"),
        "tables.cache_disk_bytes": (run["cache_disk_bytes"], "bytes"),
    })
    traced = [o for o in ops if o["traced"] and o["err"] is None]
    if traced:
        for metric, (key, unit) in SUITE_SUMS.items():
            vals = [o[key] for o in traced]
            agg = max(vals) if metric == "exec.peak_exec_mem_bytes" else mean(vals)
            rep.per_layer[metric] = (agg, unit)
        reqs = {}
        for s in run["spans"]:
            reqs.setdefault(s["req"], []).append((s["name"], s["start"], s["end"]))
        ok = {f"{o['q']}#{o['pass']}" for o in traced}
        selfs, wall = layer_self_times({k: v for k, v in reqs.items() if k in ok}, ("query",))
        # Janino compiles run on the query thread between planning and the
        # jobs it compiles for, outside every span but the query's own:
        # charge them to codegen, out of the query's unattributed time.
        janino = rep.per_layer["codegen.janino_ms"][0]
        other = selfs.get("query", 0.0)
        rep.per_layer.update({
            "queries.build_ms": (selfs.get("queries.build", 0.0), "ms"),
            "catalyst.analysis_ms": (selfs.get("catalyst.analysis", 0.0), "ms"),
            "catalyst.optimization_ms": (selfs.get("catalyst.optimization", 0.0), "ms"),
            "catalyst.planning_ms": (selfs.get("catalyst.planning", 0.0), "ms"),
            "exec.job_ms": (selfs.get("sched.job", 0.0), "ms"),
            "query.other_ms": (max(0.0, other - janino), "ms"),
        })
        untraced = mean(lat)
        rep.per_layer.update(overhead(untraced, wall))
    return rep


def overhead(untraced_ms, traced_ms):
    """Mean operation wall of the untraced and traced parts of a run. The
    self times of a traced operation add up to its wall by construction,
    so the difference is what tracing cost (or, when negative, saved)."""
    return {
        "trace.untraced_wall_ms": (untraced_ms, "ms"),
        "trace.traced_wall_ms": (traced_ms, "ms"),
        "trace.overhead_pct": (100.0 * (traced_ms - untraced_ms) / untraced_ms
                               if untraced_ms else 0.0, "%"),
    }


# ------------------------------------------------------------- service

def _values(body):
    """Rows of a /db/query response, or raise with its error."""
    doc = json.loads(body)
    if "error" in doc:
        raise RuntimeError(doc["error"])
    return [list(r) for r in doc["results"]["values"]]


def _same(a, b):
    """Service JSON value vs DuckDB value: numbers compare as numbers."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return float(a) == float(b)
    return dg.norm(a) == dg.norm(b)


def _rows_equal(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _model_rows(model):
    return [[k, model[k]] for k in sorted(model)]


def _parse_write(sql):
    """('insert', id, v) or ('delete', id, None) from a generated write."""
    s = sql.strip()
    if s.startswith("INSERT"):
        inner = s[s.index("(") + 1: s.rindex(")")]
        i, v = inner.split(",", 1)
        v = v.strip()[1:-1].replace("''", "'")
        return "insert", int(i), v
    return "delete", int(s.rsplit("=", 1)[1]), None


def service(rec, corpus_dir):
    import duckdb
    run = rec["run"]
    rep = Report()
    con = duckdb.connect()
    for t in rec["meta"]["corpus"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    ops = sorted(run["ops"], key=lambda o: (o["client"], o["idx"] if o["idx"] >= 0 else 1 << 30,
                                            o["node"]))
    models = {}
    reads, writes = {"leader": [], "follower": []}, []
    n_503 = 0
    server_ms = {}
    rep.attempted = len(ops)
    for o in ops:
        c, model = o["client"], models.setdefault(o["client"], {})
        oid = f"c{c}#{o['idx']}@node{o['node']}"
        ms = (o["t1"] - o["t0"]) / NS_MS
        # the final reads are the check that every node agrees with the
        # model: one that gets no rows fails that check
        lost = rep.mismatches if o["kind"] == "final" else rep.failures
        if o["code"] != 200:
            lost.append(f"{oid}: HTTP {o['code']}: {o['body'][:200]}")
            n_503 += o["code"] == 503
        if o["kind"].startswith("write"):
            op, key, v = _parse_write(o["sql"])
            if o["code"] != 200:
                # refused or lost: whether it applied is what the leader holds
                try:
                    held = {r[0]: r[1] for r in _values(o["resolve_body"])}
                except Exception as e:
                    rep.mismatches.append(f"{oid}: resolve read failed: {e}")
                    continue
                applied = (key in held) if op == "insert" else (key not in held)
            else:
                doc = json.loads(o["body"])
                if "error" in doc:
                    rep.failures.append(f"{oid}: execute error: {doc['error'][:200]}")
                    continue
                applied = True
                if o["phase"] == "timed":
                    writes.append(ms)
                server_ms[o["sql"]] = float(doc.get("time", 0))
            if applied:
                if op == "insert":
                    model[key] = v
                else:
                    model.pop(key, None)
            continue
        if o["code"] != 200:
            continue
        try:
            got = _values(o["body"])
        except Exception as e:
            lost.append(f"{oid}: query error: {type(e).__name__}: {str(e)[:200]}")
            continue
        server_ms[o["sql"]] = float(json.loads(o["body"]).get("time", 0))
        if o["kind"] == "read_corpus":
            want = [list(r) for r in con.execute(o["sql"]).fetchall()]
            if not _rows_equal(got, want):
                rep.mismatches.append(f"{oid}: {o['sql']!r}: service {got[:3]} != duckdb {want[:3]}")
        elif not _rows_equal(got, _model_rows(model)):
            rep.mismatches.append(f"{oid}: {o['sql']!r}: {got} != model {_model_rows(model)}")
        if o["phase"] == "timed":
            reads["leader" if o["node"] == 0 else "follower"].append(ms)
    all_reads = reads["leader"] + reads["follower"]
    timed = [o for o in ops if o["phase"] == "timed"]
    done = [o for o in timed if o["code"] == 200]
    window = _window_s(timed) or run["timed_s"]
    lat = all_reads + writes
    counted = [o for o in ops if o["phase"] in ("timed", "traced")]
    common(rep, rec, lat, len(done) / window, rec["boot_s"] + run["setup_s"], len(counted))
    user_bytes = sum(4 + len(v.encode("utf-8")) for m in models.values() for v in m.values())
    disk = run["disk"]
    stored = disk["data"]["bytes"] + disk["log"]["bytes"] + disk["snapshots"]["bytes"]
    rep.detail.update({
        **percentiles("read", all_reads),
        **percentiles("read.leader", reads["leader"]),
        **percentiles("read.follower", reads["follower"]),
        **percentiles("write", writes),
        "stmt_per_s": (len(done) / window, "1/s"),
        "stored_bytes_per_user_byte": (stored / user_bytes if user_bytes else 0.0, "ratio"),
        "reads": len(all_reads), "writes": len(writes),
        "script_exhausted": run["script_exhausted"],
    })
    rep.per_layer.update({
        "replication.quorum_503": (n_503, "count"),
        "snapshot.bytes": (disk["snapshots"]["bytes"], "bytes"),
        "snapshot.files": (disk["snapshots"]["files"], "count"),
        "log.bytes": (disk["log"]["bytes"], "bytes"),
    })
    traced = [o for o in ops if o["phase"] == "traced" and o["code"] == 200]
    if traced:
        _service_layers(rep, run, traced, server_ms, mean(lat))
    return rep


def _window_s(timed):
    if not timed:
        return 0.0
    return (max(o["t1"] for o in timed) - min(o["t0"] for o in timed)) / 1e9


def _service_layers(rep, run, traced, server_ms, untraced_mean_ms):
    by_req = {}
    for s in run["spans"]:
        by_req.setdefault(s["req"], []).append(s)
    qdf, res, exe_l, exe_f, files, wbytes = [], [], [], [], [], []
    over_l, over_f, ack = [], [], []
    reqs = {}
    for o in traced:
        spans = by_req.get(o["sql"], [])
        ms = (o["t1"] - o["t0"]) / NS_MS
        for s in spans:
            d = (s["end"] - s["start"]) / NS_MS
            role = s["attrs"].get("role")
            if s["name"] == "gateway.querydf":
                qdf.append(d)
            elif s["name"] == "results":
                res.append(d)
            elif s["name"] == "gateway.execute":
                (exe_l if role == "leader" else exe_f).append(d)
                if role == "leader":
                    files.append(int(s["attrs"]["files"]))
                    wbytes.append(int(s["attrs"]["bytes"]))
        if o["kind"].startswith("read"):
            (over_l if o["node"] == 0 else over_f).append(ms - server_ms.get(o["sql"], 0.0))
        else:
            lead = [s for s in spans if s["name"] == "gateway.execute"
                    and s["attrs"].get("role") == "leader"]
            if lead:
                ack.append(server_ms.get(o["sql"], 0.0)
                           - (lead[0]["end"] - lead[0]["start"]) / NS_MS)
        root = "http.write" if o["kind"].startswith("write") else "http.read"
        reqs[o["sql"]] = [(s["name"] + ("." + s["attrs"]["role"] if "role" in s["attrs"] else ""),
                           s["start"], s["end"]) for s in spans if s["name"] != root] + \
            [(root, o["t0"], o["t1"])]
    lag = run["lag"]
    rep.per_layer.update({
        "gateway.querydf_ms": (mean(qdf), "ms"),
        "gateway.execute_ms.leader": (mean(exe_l), "ms"),
        "gateway.execute_ms.follower": (mean(exe_f), "ms"),
        "gateway.write_files": (mean(files), "count"),
        "gateway.write_bytes": (mean(wbytes), "bytes"),
        "results.ms": (mean(res), "ms"),
        "http.read_overhead_ms.leader": (mean(over_l), "ms"),
        "http.read_overhead_ms.follower": (mean(over_f), "ms"),
        "replication.ack_wait_ms": (mean(ack), "ms"),
        "replication.follower_lag": (mean(lag), "count"),
    })
    selfs, wall = layer_self_times(reqs, ("http.read", "http.write"))
    rep.detail.update({f"self.{n}_ms": (t, "ms") for n, t in sorted(selfs.items())})
    rep.per_layer.update(overhead(untraced_mean_ms, wall))
