"""Build file for the benchmark: compiles graft's main sources together
with perfbench/scala into .bench_build/classes, using the Scala compiler
that ships in Spark's jar directory ($SPARK_HOME/jars). A stamp of the
sources' contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    spark-submit on the PATH. It must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler; "
                     "set SPARK_HOME")


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/scala/*.scala"))
    if not main:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    return main + bench


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", f"{spark_jars()}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
