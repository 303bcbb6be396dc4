"""Build file of the benchmark: builds the program from source with sbt and
the benchmark's own JVM classes with javac, and says how to launch both.

Everything lands under `.bench_build/` in the checkout. A stamp over the
inputs (the program's build definition and main sources, and the harness
sources) lets later runs in the same checkout skip the build.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
HARNESS_SRC = os.path.join(HERE, "jvm")
HARNESS_OUT = os.path.join(OUT, "harness")
INFO = os.path.join(OUT, "build.json")
# one fixed heap for every JVM of the system under test
HEAP = "2g"
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g -Djava.io.tmpdir={tmp}")


class BuildError(RuntimeError):
    pass


def _inputs():
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*.*"), recursive=True)
    files += glob.glob(os.path.join(HARNESS_SRC, "**", "*.java"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def _stamp():
    h = hashlib.sha256()
    for f in _inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def duckdb_jar():
    """The DuckDB JDBC driver from the local coursier cache (the same jar
    the program's test classpath takes). The `--backend duckdb` commands
    cannot run without it."""
    home = os.path.expanduser("~")
    jars = sorted(glob.glob(os.path.join(ROOT, "lib-test", "**", "duckdb_jdbc-*.jar"),
                            recursive=True))
    jars += sorted(glob.glob(os.path.join(home, ".cache", "coursier", "**",
                                          "duckdb_jdbc-*.jar"), recursive=True))
    if not jars:
        raise BuildError("duckdb_jdbc-*.jar not found in the local coursier cache")
    return jars[0]


def parse_sbt(output):
    """Classpath and run/javaOptions from the output of
    `sbt compile "export Runtime/fullClasspath" "show run/javaOptions"`."""
    lines = output.splitlines()
    cp = [l.strip() for l in lines
          if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if len(cp) != 1:
        raise BuildError("sbt did not export one runtime classpath")
    opts = [l.split("* ", 1)[1].strip() for l in lines if l.startswith("[info] * ")]
    if not opts:
        raise BuildError("sbt exported no run/javaOptions")
    return cp[0].split(os.pathsep), opts


def _sbt():
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~"), tmp=tmp))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "show run/javaOptions"],
        cwd=ROOT, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("sbt build failed:\n" + proc.stdout[-4000:] + proc.stderr[-4000:])
    return parse_sbt(proc.stdout)


def _javac(classpath):
    sources = sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.java"), recursive=True))
    shutil.rmtree(HARNESS_OUT, ignore_errors=True)
    os.makedirs(HARNESS_OUT)
    proc = subprocess.run(
        ["javac", "-nowarn", "-d", HARNESS_OUT, "-cp", os.pathsep.join(classpath)]
        + sources, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=300)
    if proc.returncode != 0:
        raise BuildError("javac failed:\n" + proc.stderr[-4000:])


def _corpus(classpath):
    """The program's default corpus directory (graft.LocalSession.sfDir)."""
    proc = subprocess.run(["java", "-cp", os.pathsep.join(classpath), "perfbench.Corpus"],
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=120)
    if proc.returncode != 0:
        raise BuildError("cannot read the program's corpus directory:\n" + proc.stderr[-4000:])
    return proc.stdout.strip()


def _jdk():
    proc = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return proc.stderr.splitlines()[0] if proc.stderr else "unknown"


def ensure():
    """Build if the inputs changed since the last build; return the launch
    recipe: classpath (program + DuckDB driver + harness classes), JVM
    options, the JDK version line and the program's corpus directory."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BuildError(f"no build.sbt under {ROOT}: not a checkout of the program")
    stamp = _stamp()
    if os.path.isfile(INFO):
        with open(INFO) as fh:
            info = json.load(fh)
        if info.get("stamp") == stamp:
            return info
    classpath, opts = _sbt()
    classpath = classpath + [duckdb_jar()]
    _javac(classpath)
    classpath = classpath + [HARNESS_OUT]
    info = {
        "stamp": stamp,
        "classpath": classpath,
        "java_options": opts,
        "jdk": _jdk(),
        "corpus": _corpus(classpath),
    }
    tmp = INFO + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(info, fh)
    os.replace(tmp, INFO)
    return info


def java_command(info, main, args, work, props=()):
    """argv for one JVM of the system under test; its temp files stay in
    `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is pinned here, not taken from the build's default
    opts = [o for o in info["java_options"] if not o.startswith(("-Xmx", "-Xms"))]
    return (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
            + [f"-D{k}={v}" for k, v in props]
            + ["-cp", os.pathsep.join(info["classpath"]), main] + list(args))
