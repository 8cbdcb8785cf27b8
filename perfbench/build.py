"""Build file of the benchmark package: compiles graft's main sources and
the benchmark's Scala harness into ``perfbench/.build/classes`` with the
Scala compiler that ships in the Spark distribution the repository builds
against (``unmanagedBase`` in the root ``build.sbt``). The build is
skipped when no source changed since the last one.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def spark_jars() -> str:
    """The Spark jar directory the root build.sbt compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {ROOT}: run from a full checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar under {jars}")
    return jars


def sources() -> list:
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no graft sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def classpath() -> str:
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(quiet: bool = True) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-d", CLASSES, "-classpath", cp, "-nowarn"] + srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if not quiet:
        print(r.stdout, end="")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


def java_cmd(main: str, heap: str, tmp: str) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath(), main]


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        sys.exit(str(e))
