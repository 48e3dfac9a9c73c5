"""Build file of the benchmark: compiles graft's ``src/main/scala`` and the
harness under ``perfbench/scala`` with the Scala compiler that ships in the
build's unmanaged jar directory (``unmanagedBase`` in ``build.sbt``), and
reads the forked-run JVM options from ``build.sbt``.

Outputs go to ``.bench_build/`` in the checkout. Each stage is skipped
when the sha-256 of its sources matches the stamp left by the last build.

    python3 perfbench/build.py        # build, print the classpath
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError("no build.sbt in %s: run from the repository root"
                         % ROOT)
    return _read(path)


def jar_dir():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase")
    return m.group(1)


def _env_template(s):
    """Resolve ``${sys.env.getOrElse("NAME", "default")}`` as sbt would."""
    return re.sub(r'\$\{sys\.env\.getOrElse\("([^"]+)",\s*"([^"]*)"\)\}',
                  lambda m: os.environ.get(m.group(1), m.group(2)), s)


def jvm_options():
    """The build's ``javaOptions``: every ``-X``/``-D`` string literal and
    the ``--add-opens`` list of ``java.base/...`` packages."""
    text = re.sub(r"//[^\n]*", "", build_sbt())
    opts = [_env_template(o) for o in
            re.findall(r'"(-[XD](?:\$\{[^}]*\}|[^"$])*)"', text)]
    for pkg in re.findall(r'"(java\.base/[^"]+)"', text):
        opts += ["--add-opens", pkg + "=ALL-UNNAMED"]
    return opts


def _sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, sources, classpath, stamp_extra=""):
    dest = os.path.join(OUT, name)
    stamp = os.path.join(dest, ".stamp")
    want = _digest(sources, stamp_extra)
    if os.path.exists(stamp) and _read(stamp) == want:
        return dest, want
    if not sources:
        raise BuildError("no Scala sources for " + name)
    jars = jar_dir()
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.13*.jar" % j))
                for j in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("no Scala 2.13 compiler jars in " + jars)
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    args = os.path.join(OUT, name + ".args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-cp", classpath, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("compiling %s failed:\n%s" % (name, r.stdout[-4000:]))
    with open(stamp, "w") as f:
        f.write(want)
    return dest, want


def build():
    """Compile if needed; returns the runtime classpath string."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BuildError("no src/main/scala in %s" % ROOT)
    os.makedirs(OUT, exist_ok=True)
    spark = os.path.join(jar_dir(), "*")
    graft, stamp = _compile("graft-classes", _sources(src), spark)
    bench, _ = _compile("bench-classes",
                        _sources(os.path.join(HERE, "scala")),
                        spark + ":" + graft, stamp_extra=stamp)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return ":".join([bench, graft, resources, spark])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
