"""The benchmark's workloads. Each takes a ``Run`` (see run.py), sets
up the session, runs its timed loop, checks every output and returns
its metrics.

End-to-end metrics (every workload):
  setup_s      session start plus warm-up (input and oracle preparation excluded)
  wall_s       pipeline_batch: median wall time of one batch job;
               pipeline_stream: mean latency of a streamed file, from the
               time the open-loop schedule drops it to the commit of the
               micro-batch that holds it; llm_dedup: the one cold pass
  cpu_s        CPU seconds of the driver JVM, its Python workers and the
               Python driver per batch job, over the stream schedule, or
               over the cold pass
The median latency of one op (a run_batch call, a dedup query, or one
streamed file) is the per-layer ``op.p50_s``, as is peak memory
(``host.peak_rss_mb``): across seeds on a shared 4-vCPU VM they spread by
up to 27 % and 15 %, beyond any bound the benchmark may set.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import data
import oracle
import measure

# Pinned clock: the generator's order dates and the sink's processing
# partitions are functions of it, so the inputs depend on the seed only.
NOW = dt.datetime(2024, 6, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

BATCH_ORDERS = 12_500      # orders per pipeline_batch job
INVALID_SHARE = 0.02       # orders mutated to break one validation rule each
CORRUPT_SHARE = 0.005      # malformed lines added, as a share of orders
STREAM_FILE_ORDERS = 100   # the reference generator's NUM_ORDERS per file
STREAM_RATE = 16.0          # files per second offered by the load generator
# Warm-up micro-batches before the schedule starts, each of one second's
# files: the timed batches then run on a JIT-warm driver.
STREAM_WARMUP_BATCHES = 3
STREAM_WARMUP_FILES = STREAM_WARMUP_BATCHES * int(STREAM_RATE)
DEDUP_DOCS, DEDUP_VECTORS = 500, 500  # rows of the test tables at sf0.001 and sf0.01
CORPUS_SEED = 20240601     # fixed corpus content; the run seed permutes row order

# Generator digest for seed 42, BATCH_ORDERS orders and NOW, pinned from
# the benchmark's parent commit: (count, sum total_amount, sum total_quantity,
# order-insensitive line hash).
GENERATOR_PIN = [12500, 26503077.1, 25403, "58a43a8b02584371"]

DEDUP_QUERIES = ["t05_ngram_jaccard_pairs", "t09_similarity_join", "d24_containment_pairs",
                 "d21_dedup_consensus", "d18_minhash_band_tuning", "d20_winnowing_pairs",
                 "d22_tfidf_cosine_pairs", "d06_semdedup", "s05_ivf_cosine_topk", "d03_minhash_dedupe"]


def _read_lines(directory: str) -> list[str]:
    lines = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(path) as f:
            lines.extend(line.rstrip("\n") for line in f if line.strip())
    return lines


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def scratch_bytes(run) -> int:
    """Bytes in the shared-frame tier's scratch parquet (its temp dirs)."""
    return sum(measure.dir_bytes(d)[1] for d in glob.glob(os.path.join(run.tmp, "spark_graft_frames_*")))


def tier_state(run) -> dict[str, float]:
    """Evict the shared-frame tier and the IVF cache; report what they held."""
    from e_commerce_data_engineering_spark.operators.dedup import clear_frame_cache
    from e_commerce_data_engineering_spark.operators.similarity import clear_ivf_cache

    return {"dedup.scratch_bytes": scratch_bytes(run), "dedup.frames_built": clear_frame_cache(),
            "similarity.ivf_indexes": clear_ivf_cache()}


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- pipeline_batch ----------------------------------------------------------

def _batch_job(run, tag: str, n: int, seed: int) -> dict:
    """generate_orders -> raw JSONL (+ seeded faults) -> run_batch ->
    Athena-style read-back of the partitioned sink. Only the three calls
    into the program are timed; the outputs are checked later."""
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.pipeline import run_batch
    from e_commerce_data_engineering_spark.schemas import PROCESSED_ORDER_SCHEMA
    from e_commerce_data_engineering_spark.sources.generator import generate_orders

    spark = run.spark
    gen_dir, raw_dir, out_dir, quar_dir = (run.path(f"{tag}/{d}") for d in ("gen", "raw", "processed", "quarantine"))
    _, t_gen = run.call("generator:generate_orders", lambda: generate_orders(
        spark, n, seed=seed, now=NOW).write.mode("overwrite").json(gen_dir))
    clean = _read_lines(gen_dir)
    os.makedirs(raw_dir)
    n_bad = n_corrupt = 0
    chunk = -(-len(clean) // 4)
    for k in range(4):  # four raw files, like four generator invocations
        lines, bad, corrupt = data.inject_faults(clean[k * chunk:(k + 1) * chunk], seed * 7 + k,
                                                 INVALID_SHARE, CORRUPT_SHARE)
        n_bad, n_corrupt = n_bad + len(bad), n_corrupt + corrupt
        _write_lines(os.path.join(raw_dir, f"orders-{k}.jsonl"), lines)
    cached_before = _cached_bytes(spark)
    res, t_run = run.call("pipeline:run_batch", lambda: run_batch(
        spark, raw_dir, out_dir=out_dir, quarantine_dir=quar_dir, now=NOW))
    cached_after = _cached_bytes(spark) - cached_before  # what this call left cached
    rows, t_read = run.call("readback:value_class_by_segment", lambda: (
        spark.read.schema(PROCESSED_ORDER_SCHEMA).json(out_dir)
        .groupBy("order_value_class", "customer_segment")
        .agg(F.count("*").alias("n"), F.sum("total_amount").alias("amount")).collect()))
    return {"tag": tag, "t_gen": t_gen, "t_run": t_run, "t_read": t_read, "clean": clean,
            "raw_dir": raw_dir, "out_dir": out_dir, "n_bad": n_bad, "n_corrupt": n_corrupt,
            "rows_in": len(clean) + n_corrupt, "res": res, "rows": rows, "cached_after": cached_after}


def _check_batch_job(run, job: dict) -> None:
    """Exact BatchResult counts against the injected faults; processed
    count and sum of total_amount against DuckDB over raw/."""
    res, rows, n_bad, n_corrupt = job["res"], job["rows"], job["n_bad"], job["n_corrupt"]
    want = (len(job["clean"]) - n_bad, n_bad, n_corrupt)
    want_n, want_amount = oracle.valid_orders(os.path.join(job["raw_dir"], "*.jsonl"))
    got_n, got_amount = sum(r["n"] for r in rows), sum(r["amount"] for r in rows)
    run.fail_unless((res.total_processed, res.invalid_orders, res.corrupt_lines) == want and want_n == want[0],
                    f"{job['tag']}: run_batch counts {res} != injected {want}, duckdb {want_n}")
    run.fail_unless(got_n == want_n and abs(got_amount - want_amount) < 0.005,
                    f"{job['tag']}: read-back {got_n} rows / {got_amount:.2f} != duckdb {want_n} / {want_amount:.2f}")


def _batch_stages(run, raw_dir: str) -> dict[str, float]:
    """The traced split of one run_batch: read, validate and enrich, each
    materialised into a noop sink."""
    from pyspark.sql import functions as F

    from e_commerce_data_engineering_spark.functions.enrich import enrich
    from e_commerce_data_engineering_spark.functions.validate import split_valid
    from e_commerce_data_engineering_spark.pipeline import read_raw_jsonl

    raw = read_raw_jsonl(run.spark, raw_dir).cache()
    _, t_read = run.call("pipeline:read_raw_jsonl", lambda: _noop(raw))
    valid, invalid = split_valid(raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record"))
    _, t_valid = run.call("functions:split_valid", lambda: (_noop(valid), _noop(invalid)))
    _, t_enrich = run.call("functions:enrich", lambda: _noop(enrich(valid)))
    _, t_valid_only = run.call("functions:split_valid_valid", lambda: _noop(valid))
    raw.unpersist()
    return {"pipeline.read_s": t_read, "pipeline.validate_s": t_valid,
            "pipeline.enrich_s": max(t_enrich - t_valid_only, 0.0)}


def pipeline_batch(run) -> dict:
    run.start_session()
    # Job times fall over the first ~5 jobs as the JIT compiles: two
    # warm-up jobs put the timed ones on the flatter part.
    warmups = [_batch_job(run, f"warmup-{k}", BATCH_ORDERS, 42 + k) for k in range(2)]
    run.setup_done()
    jobs = []
    while not jobs or run.elapsed() < run.seconds:
        j = len(jobs)
        jobs.append(run.guard(lambda: _batch_job(run, f"job-{j}", BATCH_ORDERS, run.seed * 1000 + j)))
    cpu = run.timed_done()
    ok = [j for j in jobs if j]
    for job in warmups + ok:
        _check_batch_job(run, job)
    clean = warmups[0]["clean"]
    pinned = [json.loads(x) for x in clean]
    got_pin = [len(pinned), round(sum(o["total_amount"] for o in pinned), 2),
               sum(o["total_quantity"] for o in pinned), data.lines_digest(clean)]
    run.fail_unless(got_pin == GENERATOR_PIN, f"generator digest {got_pin} != pinned {GENERATOR_PIN}")
    walls = [j["t_gen"] + j["t_run"] + j["t_read"] for j in ok]
    orders = sum(j["rows_in"] for j in ok)
    run.info["orders_per_s"] = orders / sum(walls) if walls else 0.0
    run.info["job_walls_s"] = walls
    run.info["run_batch_s"] = [j["t_run"] for j in ok]
    m = {"wall_s": measure.median(walls), "op.p50_s": measure.median([j["t_run"] for j in ok]),
         "cpu_s": cpu / len(jobs)}
    if run.tracing and ok:
        last = ok[-1]
        sink_files, sink_bytes = measure.dir_bytes(last["out_dir"])
        stages = _batch_stages(run, last["raw_dir"])
        res = last["res"]
        m.update(stages)
        m.update({
            "generator.s": measure.median([j["t_gen"] for j in ok]),
            "generator.orders": BATCH_ORDERS * len(jobs),
            "pipeline.sink_s": max(measure.median([j["t_run"] for j in ok]) - sum(stages.values()), 0.0),
            "pipeline.rows_in": last["rows_in"], "pipeline.rows_processed": res.total_processed,
            "pipeline.rows_quarantined": res.invalid_orders, "pipeline.rows_corrupt": res.corrupt_lines,
            "pipeline.cached_bytes_after": last["cached_after"],
            "pipeline.sink_files": sink_files, "pipeline.sink_bytes": sink_bytes,
            "readback.s": measure.median([j["t_read"] for j in ok]),
        })
        run.units = len(ok)
        run.raw_bytes = sum(measure.dir_bytes(j["raw_dir"])[1] for j in ok)
        run.dominant = {"run_batch": "pipeline:run_batch"}
    return m


# --- pipeline_stream ---------------------------------------------------------

def _stage_stream_files(run, staged: str, warm_dir: str, count: int) -> dict[str, dict[str, float]]:
    """Split one generate_orders call into STREAM_WARMUP_FILES warm-up and
    ``count`` timed raw files of STREAM_FILE_ORDERS orders each, with seeded faults;
    return file name -> {order_id: total_amount} of its valid orders."""
    from e_commerce_data_engineering_spark.sources.generator import generate_orders

    gen_dir = run.path("stream-gen")
    total = STREAM_WARMUP_FILES + count
    generate_orders(run.spark, total * STREAM_FILE_ORDERS, seed=run.seed, now=NOW).write.json(gen_dir)
    clean = _read_lines(gen_dir)
    expected = {}
    for d in (staged, warm_dir):
        os.makedirs(d)
    for i in range(total):
        orders = clean[i * STREAM_FILE_ORDERS:(i + 1) * STREAM_FILE_ORDERS]
        lines, bad, _ = data.inject_faults(orders, run.seed * 100_003 + i, INVALID_SHARE, 1.0 / STREAM_FILE_ORDERS)
        warm = i < STREAM_WARMUP_FILES
        name = f"warmup-{i:05d}.jsonl" if warm else f"orders-{i:05d}.jsonl"
        _write_lines(os.path.join(warm_dir if warm else staged, name), lines)
        expected[name] = {o["order_id"]: o["total_amount"]
                          for k, o in enumerate(map(json.loads, orders)) if k not in bad}
    return expected


def _source_entries(ckpt: str) -> list[dict]:
    """Entries of the file source's log ({path, timestamp, batchId}),
    ``.compact`` files included."""
    entries = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "[0-9]*")):
        if path.endswith(".tmp"):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]
            for e in (json.loads(x) for x in lines if x.startswith("{")):
                entries[e["path"]] = e
        except (OSError, ValueError):
            continue  # being written; picked up on the next poll
    return list(entries.values())


def _committed(ckpt: str) -> dict[str, float]:
    """file name -> commit time of the micro-batch that read it."""
    commits = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        name = os.path.basename(path)
        if name.isdigit():
            commits[int(name)] = os.path.getmtime(path)
    return {os.path.basename(e["path"]): commits[e["batchId"]]
            for e in _source_entries(ckpt) if e["batchId"] in commits}


def _wait_committed(ckpt: str, names, timeout: float) -> dict[str, float]:
    deadline = time.time() + timeout
    while True:
        done = _committed(ckpt)
        if all(n in done for n in names) or time.time() > deadline:
            return done
        time.sleep(0.05)


def _drive(staged: str, raw: str, ckpt: str, log: str) -> tuple[list[dict], dict[str, float]]:
    """Run the load generator over ``staged`` and wait until every file it
    dropped is committed; return its drop log and the commit times."""
    gen = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                            "--staged", staged, "--raw", raw, "--rate", str(STREAM_RATE),
                            "--t0", repr(time.time() + 0.2), "--log", log])
    try:
        gen.wait(timeout=len(os.listdir(staged)) / STREAM_RATE + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(log) as f:
        drops = json.load(f)
    return drops, _wait_committed(ckpt, [d["file"] for d in drops], 60)


def pipeline_stream(run) -> dict:
    from e_commerce_data_engineering_spark.pipeline import run_batch
    from e_commerce_data_engineering_spark.streaming.pipeline import start_processing_stream

    raw, staged, ckpt = run.path("raw"), run.path("staged"), run.path("checkpoint")
    out, quar, warm_dir = run.path("processed"), run.path("quarantine"), run.path("warm-staged")
    os.makedirs(raw)
    run.start_session()
    expected = run.untimed(lambda: _stage_stream_files(run, staged, warm_dir, int(STREAM_RATE * run.seconds)))
    query, _ = run.call("streaming:start_processing_stream", lambda: start_processing_stream(
        run.spark, raw, out, ckpt, quarantine_dir=quar))
    warm_files = sorted(os.listdir(warm_dir))
    for k in range(0, len(warm_files), int(STREAM_RATE)):
        names = warm_files[k:k + int(STREAM_RATE)]
        for name in names:
            os.rename(os.path.join(warm_dir, name), os.path.join(raw, name))
        _wait_committed(ckpt, names, 120)
    warm_done = _committed(ckpt)
    run.fail_unless(len(warm_done) == STREAM_WARMUP_FILES, "warm-up files not committed")
    run.setup_done()
    drops, done = _drive(staged, raw, ckpt, run.path("loadgen.json"))
    cpu = run.timed_done()
    progress = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
    query.stop()
    warm_batches = {e["batchId"] for e in _source_entries(ckpt) if os.path.basename(e["path"]).startswith("warmup")}

    lat = []
    for d in drops:
        run.attempted += 1
        if d["file"] in done:
            lat.append(done[d["file"]] - d["due"])
        else:
            run.fail(f"{d['file']} not committed")
    sink = oracle.sink_orders(os.path.join(out, "**", "*.json"))
    seen: dict[str, list[float]] = {}
    for oid, amount in sink:
        seen.setdefault(oid, []).append(amount)
    for name, want in expected.items():
        wrong = [o for o, a in want.items() if seen.get(o) != [a]]
        if wrong and (name in done or name in warm_done):
            run.fail(f"{name}: {len(wrong)} orders missing, duplicated or wrong in the stream sink")
    n_expected = sum(len(w) for w in expected.values())
    run.fail_unless(len(sink) == n_expected, f"stream sink holds {len(sink)} rows, expected {n_expected}")
    # Batch over the same files must produce the same sink.
    res, _ = run.call("pipeline:run_batch", lambda: run_batch(
        run.spark, raw, out_dir=run.path("batch-processed"), quarantine_dir=run.path("batch-quarantine"), now=NOW))
    batch_sink = oracle.sink_orders(os.path.join(run.path("batch-processed"), "**", "*.json"))
    run.fail_unless(
        res.total_processed == len(sink) == len(batch_sink)
        and abs(sum(a for _, a in sink) - sum(a for _, a in batch_sink)) < 0.005,
        f"stream sink ({len(sink)} rows) != batch sink ({res.total_processed} rows)")

    commits = [done[d["file"]] for d in drops if d["file"] in done]
    run.info["late_max_s"] = max(d["dropped"] - d["due"] for d in drops)
    run.info["stream_drain_s"] = max(commits) - drops[-1]["due"] if commits else 0.0
    run.info["stream_latency_p90_s"] = measure.p90(lat)
    run.info["offered_rate_files_per_s"] = STREAM_RATE
    m = {"wall_s": sum(lat) / len(lat) if lat else 0.0, "op.p50_s": measure.median(lat), "cpu_s": cpu}
    if run.tracing:
        timed = [p for p in progress if p.get("numInputRows", 0) > 0 and p["batchId"] not in warm_batches]
        batch_of: dict[int, int] = {}
        for e in _source_entries(ckpt):
            if e["batchId"] not in warm_batches:
                batch_of[e["batchId"]] = batch_of.get(e["batchId"], 0) + 1
        dur = lambda k: [p["durationMs"].get(k, 0) for p in timed]  # noqa: E731
        m.update({
            "stream.batches": len(timed),
            "stream.files_per_batch_p50": measure.median(list(batch_of.values())),
            "stream.trigger_ms_p50": measure.median(dur("triggerExecution")),
            "stream.add_batch_ms_p50": measure.median(dur("addBatch")),
            "stream.planning_ms_p50": measure.median(dur("queryPlanning")),
            "stream.wal_commit_ms_p50": measure.median(dur("walCommit")),
            "stream.latest_offset_ms_p50": measure.median(dur("latestOffset")),
            "stream.processed_rows_per_s": measure.median([p.get("processedRowsPerSecond", 0.0) for p in timed]),
            "loadgen.late_max_s": run.info["late_max_s"],
        })
        run.units = len(drops)
    return m


# --- llm_dedup ---------------------------------------------------------------

def _dedup_corpus(run) -> str:
    """Fixed-content corpus, rows permuted by the run seed; cached per size and seed."""
    d = os.path.join(run.work, "data", f"dedup-{DEDUP_DOCS}x{DEDUP_VECTORS}", f"seed-{run.seed}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        data.write_corpus(d, DEDUP_DOCS, DEDUP_VECTORS, CORPUS_SEED, run.seed)
        open(os.path.join(d, "_READY"), "w").close()
    return d


def _dedup_pass(run, qs: dict, corpus: str, expected: dict, label: str) -> dict[str, float]:
    times = {}
    for name in DEDUP_QUERIES:
        def call():
            df = qs[name](run.spark, corpus)
            return df.columns, df.collect()
        got, t = run.call(f"plans:{name}", call, desc=f"plans:{name}:{label}", reraise=False)
        if got is None:
            continue
        times[name] = t
        check_query(run, name, oracle.canonical(*got), expected)
    return times


def check_query(run, name: str, result: dict, expected: dict) -> None:
    """Compare one query result with its DuckDB twin, or with the pinned
    digest when it has none; a mismatch is a failed op."""
    why = oracle.mismatch(result, expected[name]) if name in expected else oracle.check_pinned(name, result)
    run.info.setdefault("digests", {})[name] = [len(result["rows"]), oracle.digest(result)]
    run.fail_unless(why is None, f"{name}: {why}")


def llm_dedup(run) -> dict:
    from e_commerce_data_engineering_spark.plans.registry import all_oracles, all_queries

    # Input and oracle preparation, and importing the plan modules, happen
    # before the session starts: neither set-up nor the cold pass pays them.
    corpus = _dedup_corpus(run)
    qs, orcs = all_queries(), all_oracles()
    # The DuckDB results depend on the corpus content only, not its row
    # order, so they are computed once per corpus size.
    expected = oracle.expected_results(corpus, {q: orcs[q] for q in DEDUP_QUERIES if q in orcs},
                                       os.path.join(os.path.dirname(corpus), "expected.json"))
    run.start_session()
    run.call("session:warmup", lambda: run.spark.range(100_000).selectExpr("id % 97 AS k")
             .groupBy("k").count().collect())
    run.setup_done()
    cold = _dedup_pass(run, qs, corpus, expected, "cold")
    cpu = run.timed_done()
    m = {"wall_s": sum(cold.values()), "op.p50_s": measure.median(list(cold.values())), "cpu_s": cpu}
    if run.tracing:
        scratch = scratch_bytes(run)
        run.spark.catalog.clearCache()
        warm = _dedup_pass(run, qs, corpus, expected, "tier-warm")
        state = tier_state(run)
        build = {q: max(cold[q] - warm[q], 0.0) for q in DEDUP_QUERIES if q in cold and q in warm}
        for q in DEDUP_QUERIES:
            m[f"plans.{q}.s"] = cold.get(q, 0.0)
            m[f"plans.{q}.build_s"] = build.get(q, 0.0)
        m.update({"dedup.frames_built": state["dedup.frames_built"],
                  "similarity.ivf_indexes": state["similarity.ivf_indexes"],
                  "dedup.scratch_bytes": scratch, "dedup.build_s": sum(build.values())})
        run.dominant = {q: f"plans:{q}:cold" for q in DEDUP_QUERIES}
    return m


WORKLOADS = {"pipeline_batch": pipeline_batch, "pipeline_stream": pipeline_stream, "llm_dedup": llm_dedup}
