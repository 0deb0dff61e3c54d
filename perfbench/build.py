"""Build file of the benchmark: compiles graft (``src/main/scala``) together
with the harness (``perfbench/src``) into one jar.

It uses the Scala compiler that ships among the Spark jars the repo's
build.sbt names as ``unmanagedBase`` (or ``$SPARK_HOME/jars``), so no build
tool runs and nothing is written outside the checkout. A build is keyed by
a hash of every input file and reused while they are unchanged.

    python3 perfbench/build.py          # prints the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def checkout_root():
    return os.path.dirname(HERE)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: cannot locate the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    return main + bench, [r for r in res if os.path.isfile(r)]


def build(root, out_root, jvm_options=()):
    """Compile if needed; returns (jar, stamp).

    The classes are packed into one jar, and a training run of the harness
    records a class-data-sharing archive next to it (``<jar>.jsa``), which
    cuts JVM and Spark start-up by several seconds per run; it changes
    class loading only, not the heap or the compiled code."""
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "(run from the root of a graft checkout)")
    jars = spark_jars(root)
    scala, resources = sources(root)
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    built = os.path.join(out_root, f"build-{stamp}")
    jar = os.path.join(built, "graft-bench.jar")
    if os.path.exists(os.path.join(built, ".ok")):
        return jar, stamp
    for old in glob.glob(os.path.join(out_root, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(built, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala))
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                   check=True, stdout=sys.stderr)
    res_root = os.path.join(root, "src/main/resources")
    for r in resources:
        dst = os.path.join(classes, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    train = os.path.join(built, "train")
    os.makedirs(train)
    subprocess.run(["java", *jvm_options, f"-XX:ArchiveClassesAtExit={jar}.jsa",
                    f"-Djava.io.tmpdir={train}", "-cp", jar + os.pathsep + cp,
                    "graft.perfbench.Harness", "--train", train],
                   check=True, stdout=sys.stderr, stderr=sys.stderr, cwd=train)
    shutil.rmtree(train, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    open(os.path.join(built, ".ok"), "w").close()
    return jar, stamp


if __name__ == "__main__":
    root = checkout_root()
    print(build(root, os.path.join(root, ".bench_build", "perfbench"))[0])
