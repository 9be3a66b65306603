#!/usr/bin/env python3
"""Lifecycle benchmark launcher.

    python3 lifecycle_bench/run.py --workload ingest|search|churn|dedup \
        --seed N --seconds S --trace 0|1 [--size full|smoke]
    python3 lifecycle_bench/run.py --test     # the benchmark's own tests

Run from the repository root. The first run builds the program with the
repository's own sbt build (offline, unedited) and then this directory's
sbt package against it; later runs reuse the build while the sources are
unchanged. Each measured run is one JVM launched directly, not through
sbt. Everything it writes goes under target/ and lifecycle_bench/target/.
The last stdout line is the result JSON; the exit code is non-zero when
an output check failed or the program could not be built or run.
"""
import hashlib
import os
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "target"
STAMP = OUT / "build.stamp"
ARCHIVE = OUT / "app.jsa"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[run.py] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change calls for a rebuild."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(base.glob("*.sbt")) + sorted(base.glob("*.properties"))
    for tree in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(cwd, *tasks, log):
    """Run sbt tasks in `cwd`; return its stdout lines (log gets everything)."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", *tasks]
    with open(log, "a") as lf:
        lf.write(f"$ (cd {cwd}) {' '.join(cmd)}\n")
        lf.flush()
        p = subprocess.run(cmd, cwd=cwd, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=lf, stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    if p.returncode != 0:
        tail = "".join(open(log).readlines()[-30:])
        fail(f"sbt {' '.join(tasks)} failed in {cwd}:\n{tail}")
    return p.stdout.splitlines()


def exported(lines):
    """The classpath an `export` task printed (its last plain line)."""
    plain = [l for l in lines if l.strip() and not l.startswith("[")]
    if not plain:
        fail("sbt printed no classpath")
    return plain[-1].strip()


def jar(classes, dest):
    """Pack a classes directory into an uncompressed jar (class sharing
    archives only jars, not directories)."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(Path(classes).rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())


def java_cmd(extra, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = ROOT / "target" / "lifecycle-bench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            *extra, *opens, f"@{OUT / 'java.args'}", "lifecycle.Bench", *args]


def build():
    """Compile both packages, jar them, and record an application class
    data sharing archive from a traced smoke run of every workload: each
    measured JVM then starts from it, as a deployed service would. The
    smoke run's own checks must pass."""
    OUT.mkdir(parents=True, exist_ok=True)
    want = fingerprint()
    if STAMP.exists() and STAMP.read_text() == want:
        return
    STAMP.unlink(missing_ok=True)
    log = OUT / "build.log"
    log.write_text("")
    program = exported(sbt(ROOT, "compile", "export Runtime/fullClasspath", log=log))
    (OUT / "program.classpath").write_text(program)
    bench = exported(sbt(BENCH, "compile", "export Runtime/fullClasspath", log=log))
    entries = []
    for e in bench.split(os.pathsep):
        if Path(e).is_dir():
            dest = OUT / f"{len(entries)}-{Path(e).parts[-3]}.jar"
            jar(e, dest)
            e = str(dest)
        entries.append(e)
    (OUT / "java.args").write_text("-cp\n" + os.pathsep.join(entries) + "\n")
    ARCHIVE.unlink(missing_ok=True)
    with open(log, "a") as lf:
        p = subprocess.run(java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off"],
                                    ["--workload", "search", "--seed", "1", "--seconds", "1",
                                     "--trace", "1", "--size", "smoke"]),
                           cwd=ROOT, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                           timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        fail(f"smoke run failed while building (see {log})")
    STAMP.write_text(want)


def run(args):
    cmd = java_cmd([f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:auto", "-Xlog:cds=off",
                    "-Xlog:cds+dynamic=off"], args)
    # own process group, so a timeout stops the JVM and anything it started
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(out)
    sys.stdout.flush()
    return p.returncode


def main(argv):
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: run from a checkout of the repository")
    build()
    if argv == ["--test"]:
        log = OUT / "test.log"
        log.write_text("")
        sbt(BENCH, "test", log=log)
        print("".join(l for l in open(log).readlines() if "Tests:" in l or "All tests" in l), end="")
        return 0
    return run(argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
