#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) and caches the classpath
under .bench_build/; later runs reuse it until a source file changes.
The last line of stdout is the result JSON: {"correct", "attempted",
"failed", "metrics"}. A failed check exits non-zero with no timings.

Extra flags for the benchmark's own tests and tools:
    --inject FAULT[,FAULT]   wrong-expected | drop-message | fail-task | corrupt-input
    --deadline-s X           per-phase delivery deadline (stream workloads)
    --record                 print the expected corpus rows/hashes for params.json
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PARAMS = os.path.join(HERE, "params.json")
WORKLOADS = ("wordcount_mem", "relay_tcp", "corpus_batch")
RUN_LIMIT_S = 170  # the JVM is stopped after this, so a run ends within 180 s
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---- build -----------------------------------------------------------

def source_stamp():
    """Hash of every input the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles program + harness once per source state; returns the
    classpath and the source stamp."""
    for need in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of the program")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip(), stamp
        log("building program and harness with sbt (first run in this checkout)")
        t0 = time.time()
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/compile",
                 "export bench/Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                capture_output=True, text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
        return cp, stamp


# ---- corpus ----------------------------------------------------------

# The shape of the program's own documents and embeddings tables, as
# measured at sf0.01 and sf0.1 (perfbench/README.md): 30 words plus the
# near-duplicate marker, 10-99 words per document (uniform), 5 % near
# duplicates (another document's text with " dup" appended), languages
# en 41 % and zh, es, fr, de about 15 % each, sources src0..src19
# round-robin by doc_id, 64-dim Gaussian unit vectors with no planted
# neighbours and labels 0..9 uniform.
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
DUP_MARK = "dup"
STOPWORDS = ("a", "the")
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
NEAR_DUP_FRAC = 0.05
DIM = 64
SIZES = {"sf0.1": (5000, 2000)}
VARIANTS = 8


def gen_corpus(variant, scale, out_dir):
    """Seeded documents and embeddings tables with the program's schema.

    One base corpus per scale. A variant permutes the rows, renames the
    non-stopwords and flips and permutes the vector dimensions: different
    inputs with the same duplicate and similarity structure, so the amount
    of work does not depend on the seed.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    n_docs, n_vecs = SIZES[scale]
    rnd = random.Random(f"corpus-base-{scale}")
    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 99)))
             for _ in range(n_docs)]
    for i in range(n_docs):
        if rnd.random() < NEAR_DUP_FRAC:
            texts[i] = texts[rnd.randrange(n_docs)] + " " + DUP_MARK
    langs = rnd.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=n_docs)
    vecs = []
    for _ in range(n_vecs):
        v = [rnd.gauss(0, 1) for _ in range(DIM)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    labels = [rnd.randrange(10) for _ in range(n_vecs)]

    vr = random.Random(f"corpus-variant-{variant}-{scale}")
    words = [w for w in WORDS if w not in STOPWORDS]
    renamed = dict(zip(words, vr.sample(words, len(words))))
    texts = [" ".join(renamed.get(w, w) for w in t.split()) for t in texts]
    order = vr.sample(range(n_docs), n_docs)
    texts, langs = ([xs[i] for i in order] for xs in (texts, langs))
    dims = vr.sample(range(DIM), DIM)
    signs = [vr.choice((-1.0, 1.0)) for _ in range(DIM)]
    vorder = vr.sample(range(n_vecs), n_vecs)
    vecs = [[signs[d] * vecs[i][dims[d]] for d in range(DIM)] for i in vorder]
    labels = [labels[i] for i in vorder]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    embs = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    pq.write_table(embs, os.path.join(tmp, "embeddings.parquet"))
    os.replace(tmp, out_dir)


def ensure_corpus(variants):
    root = os.path.join(OUT, "corpus")
    for v in variants:
        for scale in SIZES:
            d = os.path.join(root, f"v{v}", scale)
            if not os.path.isdir(d):
                os.makedirs(os.path.dirname(d), exist_ok=True)
                gen_corpus(v, scale, d)
    return root


# ---- run -------------------------------------------------------------

def run_jvm(cp, jvm_args, heap, work, log_path, deadline):
    work_tmp = os.path.join(work, "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={work_tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + jvm_args
    with open(log_path, "w") as errf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=errf,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(5)
        # a stopped benchmark stops its JVM too
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, None
    return proc.returncode, out


def relay_log(log_path):
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("[bench]"):
                sys.stderr.write(line)


def untraced_results(workload, stamp):
    """Where the untraced results of one workload and build are kept."""
    return os.path.join(OUT, "results", f"{workload}.untraced.{stamp[:16]}.jsonl")


def tracing_overhead(workload, seed, stamp, result):
    """Traced minus untraced end-to-end figures, against the untraced runs
    of the same workload and build made in this checkout."""
    path = untraced_results(workload, stamp)
    if not os.path.exists(path):
        log("tracing overhead: no untraced run of this workload and build yet")
        return
    base = {}
    for line in open(path):
        for k, v in json.loads(line)["metrics"].items():
            base.setdefault(k, []).append(v["value"])
    over = {}
    for k, vals in base.items():
        t = result["metrics"].get(f"traced.{k}")
        ref = statistics.median(vals)
        if t and ref:
            over[k] = {"untraced_median": ref, "traced": t["value"],
                       "overhead_frac": (t["value"] - ref) / ref}
    out = os.path.join(OUT, "traces", f"{workload}-seed{seed}.overhead.json")
    with open(out, "w") as f:
        json.dump(over, f, indent=1)
    for k, o in over.items():
        log(f"tracing overhead {k}: {o['overhead_frac']:+.1%} "
            f"(traced {o['traced']:.4g} vs untraced median {o['untraced_median']:.4g})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="")
    ap.add_argument("--deadline-s", type=float)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    cp, stamp = build()
    # a run after the (cached or first) build ends within the limit
    deadline = time.time() + RUN_LIMIT_S
    variant = a.seed % VARIANTS
    if a.record:
        corpus = ensure_corpus(range(VARIANTS))
    else:
        corpus = ensure_corpus([variant] if a.workload == "corpus_batch" else [])
    if "corrupt-input" in a.inject.split(","):
        # a damaged input file: the query must fail loudly, not time fast
        v = variant
        bad = os.path.join(OUT, "corpus-bad")
        shutil.rmtree(bad, ignore_errors=True)
        shutil.copytree(corpus, bad)
        for scale in SIZES:
            with open(os.path.join(bad, f"v{v}", scale, "documents.parquet"), "r+b") as f:
                f.seek(8)
                f.write(b"\0" * 64)
        corpus = bad

    name = "record" if a.record else a.workload
    work = os.path.join(OUT, "work", f"{name}-{os.getpid()}")
    for d in ("logs", "traces", "results"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{name}-seed{a.seed}-trace{a.trace}.log")
    jvm_args = ["--params", PARAMS, "--corpus", corpus, "--work", work,
                "--trace-dir", os.path.join(OUT, "traces")]
    if a.record:
        jvm_args += ["--record"]
    else:
        jvm_args += ["--workload", a.workload, "--seed", str(a.seed), "--variant", str(variant),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.inject:
        jvm_args += ["--inject", a.inject]
    if a.deadline_s is not None:
        jvm_args += ["--deadline-s", str(a.deadline_s)]
    heap = "3g" if a.workload == "corpus_batch" or a.record else "2g"
    if a.record:
        deadline = time.time() + 1800
    code, out = run_jvm(cp, jvm_args, heap, work, log_path, deadline)
    shutil.rmtree(work, ignore_errors=True)
    relay_log(log_path)
    if code is None:
        fail(f"run exceeded its time limit; log in {log_path}", 3)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if not lines:
        fail(f"the harness printed no result (exit {code}); log in {log_path}", 4)
    if a.record:
        print(lines[-1])
        return code
    result = json.loads(lines[-1])
    if code != 0 or not result.get("correct"):
        log(f"checks failed; log in {log_path}")
        return code or 1
    if a.trace == 0:
        with open(untraced_results(a.workload, stamp), "a") as f:
            f.write(json.dumps(result) + "\n")
    else:
        tracing_overhead(a.workload, a.seed, stamp, result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
