"""Build step of the benchmark: compile the program with its own sbt
build, then compile the benchmark harness (perfbench/harness/*.scala)
against the program's runtime classpath with the Scala compiler that
classpath already carries.

Both steps are skipped when a stamp over every input (program sources,
build definition, harness sources) matches the previous build, so only
the first run in a checkout pays for compilation.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
CP_FILE = os.path.join(OUT, "classpath")


def _inputs():
    paths = [os.path.join(ROOT, "build.sbt")]
    for sub in ("project", "src/main", "perfbench/harness"):
        base = os.path.join(ROOT, sub)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt",
                                     ".properties"))]
    return paths


def _stamp():
    h = hashlib.sha256()
    for p in _inputs():
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _sbt_env():
    """Offline sbt, as the repository's own test command runs it; its
    temporary files (server socket directories) stay under .build/."""
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
                        " -XX:-UsePerfData")
    return env


def _program_classpath(log):
    """Compile the program and return its runtime classpath entries."""
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=ROOT, env=_sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    log.write(res.stdout)
    if res.returncode != 0:
        raise RuntimeError("sbt compile failed (see build log)")
    lines = [l for l in res.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no runtime classpath")
    return lines[-1].strip().split(os.pathsep)


def _compile_harness(cp, log):
    compiler = [p for p in cp if os.path.basename(p).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    srcs = sorted(os.path.join(HERE, "harness", f)
                  for f in os.listdir(os.path.join(HERE, "harness"))
                  if f.endswith(".scala"))
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    res = subprocess.run(
        ["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
         "-classpath", os.pathsep.join(cp)] + srcs,
        stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    log.write(res.stdout)
    if res.returncode != 0:
        raise RuntimeError("harness compile failed:\n" + res.stdout[-3000:])


def build():
    """Build if needed; return the classpath (harness first)."""
    for need in ("build.sbt", "src/main"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RuntimeError(f"no {need}: run from a checkout of the program")
    stamp = _stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CP_FILE):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CP_FILE) as g:
                    return g.read().split(os.pathsep)
    os.makedirs(OUT, exist_ok=True)
    for name in (STAMP, CP_FILE):
        if os.path.exists(name):
            os.remove(name)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        cp = _program_classpath(log)
        _compile_harness(cp, log)
    full = [CLASSES] + cp
    with open(CP_FILE, "w") as f:
        f.write(os.pathsep.join(full))
    with open(STAMP, "w") as f:
        f.write(stamp)
    return full


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
    print("built")
