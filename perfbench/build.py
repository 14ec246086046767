#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler that
ships in the Spark jar directory the repo's build.sbt names.  No sbt boot,
no dependency resolution: the engine's main code depends on those jars only.

Each stage is keyed by a hash of its sources and rebuilt only when they
change.  Prints the runtime classpath.

Usage: python3 perfbench/build.py [<repo root>]
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"


def jar_dir(repo):
    """The `unmanagedBase` of the repo's build.sbt."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (repo / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def _sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def _key(files, base, salt):
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(p.relative_to(base).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:20]


def _compile(repo, jars, files, out, extra_cp):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = ":".join(str(next(jars.glob(f"scala-{n}-2.*.jar")))
                        for n in ("compiler", "library", "reflect"))
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    cp = ":".join([f"{jars}/*"] + [str(p) for p in extra_cp])
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        cwd=repo, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: compiling {len(files)} files into {out} failed")
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(repo):
    """Compile what changed; return the runtime classpath entries."""
    repo = Path(repo).resolve()
    jars = jar_dir(repo)
    if not jars.is_dir():
        raise SystemExit(f"perfbench: jar directory {jars} is missing")
    stages = [("main", repo / "src" / "main" / "scala"),
              ("bench", repo / "perfbench" / "scala")]
    built, salt = [], jars.as_posix()
    for name, src in stages:
        files = _sources(src)
        if not files:
            raise SystemExit(f"perfbench: no Scala sources under {src}")
        salt = _key(files, repo, salt)
        out = repo / BUILD_DIR / f"classes-{name}-{salt}"
        if not out.is_dir():
            for old in (repo / BUILD_DIR).glob(f"classes-{name}-*"):
                shutil.rmtree(old, ignore_errors=True)
            _compile(repo, jars, files, out, built)
        built.append(out)
    return built + [Path(f"{jars}/*")]


if __name__ == "__main__":
    print(":".join(str(p) for p in build(sys.argv[1] if len(sys.argv) > 1 else ".")))
