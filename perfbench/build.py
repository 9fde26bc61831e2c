"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM runner (`perfbench/src`) with the Scala compiler that ships
in Spark's jar directory, against Spark's jars (the same classpath
`build.sbt` uses). Each half is rebuilt only when its sources change.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


class BuildError(Exception):
    pass


def _sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _jar(dest):
    """The compiled classes as a jar: the JVM's class-data-sharing archive
    (see run.py) takes classes from jars, not from directories."""
    tmp = dest + ".jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(dest)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, dest))
    os.replace(tmp, dest + ".jar")


def _compile(name, sources, classpath, extra_stamp=""):
    """Compile `sources` into `.bench_build/<name>.jar`; return (jar, stamp)."""
    if not sources:
        raise BuildError(f"no Scala sources for {name}")
    dest = os.path.join(OUT, name)
    stamp = _stamp(sources, extra_stamp)
    stamp_file = dest + ".stamp"
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(dest + ".jar")):
        return dest + ".jar", stamp
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    args_file = dest + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest,
           "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    _jar(dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest + ".jar", stamp


def build():
    """Compile what changed; return (the runtime classpath, a key that
    changes whenever any compiled class does)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(ROOT, "perfbench", "src")
    if not os.path.isdir(main_src):
        raise BuildError(f"engine sources not found under {main_src}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found under {SPARK_JARS}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    main_cls, main_stamp = _compile("main-classes", _sources(main_src), jars)
    bench_cls, bench_stamp = _compile("bench-classes", _sources(bench_src),
                                      main_cls + os.pathsep + jars, main_stamp)
    return os.pathsep.join([bench_cls, main_cls, jars]), bench_stamp[:16]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
