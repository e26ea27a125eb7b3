"""Build the program and the harness from source, once per source state.

The harness is an sbt project of its own (perfbench/build.sbt) that
depends on the program's build one directory up. The resulting runtime
classpath is cached under ``.bench_build/`` keyed by a hash of every
build input, so only the first run after a change pays for sbt."""
import hashlib
import os
import subprocess

BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]


def _files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for d, dirs, fs in os.walk(path):
        # sbt's own output under project/ is not a build input
        dirs[:] = [x for x in dirs if x not in ("target", "project")]
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        files = _files(os.path.join(root, rel))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:20]


def missing_sources(root):
    return [rel for rel in ("build.sbt", "src/main/scala")
            if not os.path.exists(os.path.join(root, rel))]


def classpath(root, build_dir, log):
    """Runtime classpath of the harness, building it if needed."""
    stamp = os.path.join(build_dir, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        raise RuntimeError(f"build failed (exit {proc.returncode}); "
                           f"see {log}:\n" + "\n".join(lines[-20:]))
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()
