#!/usr/bin/env python3
"""Build-and-serve benchmark for the inverted-index engine.

    python3 indexbench/run.py --workload build_many_docs --seed 1 --seconds 22 --trace 0

Run from anywhere; paths resolve against this file. The first run in a
checkout compiles the engine (src/main) together with the benchmark
(indexbench/src) with sbt into .bench_build/; later runs reuse that build
while no source file changed. Each run starts one JVM that generates a
corpus from the seed, drives the engine, checks every output against an
in-memory model and prints the result as the last line of stdout. The
run's full artifact (header, corpus hash, every sample) is kept in
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[indexbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    trees = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "jvm.options", BENCH / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    return files


def source_sha256():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def classpath(env, sha):
    """Compile if the sources changed since the last build; return the classpath."""
    stamp = OUT / "build.json"
    if stamp.is_file():
        built = json.loads(stamp.read_text())
        if built.get("source_sha256") == sha:
            return built["classpath"]
    print("[indexbench] compiling engine and benchmark ...", file=sys.stderr)
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sbt's own global state and temporary files stay inside the checkout
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
         f"-Dsbt.global.base={OUT / 'sbt-global'}", f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    cp = lines[-1].strip()
    stamp.write_text(json.dumps({"source_sha256": sha, "classpath": cp}))
    return cp


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not args.workload.isidentifier():
        fail(f"bad workload name {args.workload!r}")

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    sha = source_sha256()
    cp = classpath(env, sha)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = OUT / "work" / f"{tag}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"@{BENCH / 'jvm.options'}", f"-Djava.io.tmpdir={tmp}",
           f"-Dindexbench.git_sha={git_sha()}", f"-Dindexbench.source_sha256={sha}",
           "-cp", cp, "indexbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"run failed (exit {proc.returncode})", 1)
    artifact, result = json.loads(lines[-2]), json.loads(lines[-1])
    artifact["result"] = result
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"[indexbench] artifact: {results / (tag + '.json')}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
