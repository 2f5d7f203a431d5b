"""Build the engine and the harness from source (once per source state)."""
import glob
import hashlib
import os
import shutil
import subprocess

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(os.path.dirname(BENCH), "src", "main", "scala")


def _sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in (ENGINE_SRC, os.path.join(BENCH, "src")):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(root, "**", "*.java"), recursive=True)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, BENCH).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure(cache, log):
    """Return (classpath, build dir) for the current sources, compiling with
    sbt and dumping the oracle SQL on first use. Raises on failure."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise RuntimeError(f"engine sources not found at {ENGINE_SRC}")
    out = os.path.join(cache, "build", stamp())
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), out
    shutil.rmtree(os.path.join(cache, "build"), ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {r.returncode}); see {log}")
    classpath = lines[-1].strip()
    oracles = os.path.join(out, "oracles.json")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "graftbench.Harness",
                    "--oracles", oracles], check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, timeout=120)
    with open(cp_file, "w") as f:
        f.write(classpath)
    return classpath, out
