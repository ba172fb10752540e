"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with scalac, against the Spark
distribution's jars, into <out>/perfbench.jar. It then records a class-data
archive (<out>/perfbench.jsa) from one short pass over every workload; every
run maps it in instead of loading and verifying the same classes again. The
build fails when the archive cannot be recorded. A digest of every source
file is stamped next to them, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py            # build into .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars_dir(root=ROOT):
    """$SPARK_JARS_DIR, else the jars directory the repository's own sbt
    build compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no Spark jars directory: set SPARK_JARS_DIR")
    return m.group(1)


SPARK_JARS = spark_jars_dir()
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def java_command(out, args, archive_flag=None):
    """The benchmark JVM, mapping the class-data archive (or, with
    `archive_flag`, recording it). Temporary files and Spark's local
    directory stay under `out`.
    """
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jsa = os.path.join(out, "perfbench.jsa")
    cmd.append(archive_flag or f"-XX:SharedArchiveFile={jsa}")
    return cmd + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{os.path.join(out, 'perfbench.jar')}{os.pathsep}{os.path.join(SPARK_JARS, '*')}",
        "perfbench.Main", *args,
    ]


def build(root=ROOT, out=None):
    """Return the build directory, compiling first when sources changed."""
    out = out or os.path.join(root, ".bench_build")
    main, bench = sources(root)
    if not main or not bench:
        raise SystemExit("perfbench: program or benchmark sources missing; "
                         "run from a checkout of the repository")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS}")
    digest = hashlib.sha256()
    for path in main + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(out, "build.stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return out
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "perfbench.jsa")
    for p in (stamp, jar, jsa):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    print(f"perfbench: compiling {len(main)} program + {len(bench)} benchmark sources",
          file=sys.stderr)
    subprocess.run(["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
                    "-cp", os.path.join(SPARK_JARS, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                    f"@{argfile}"], check=True, cwd=root, stdout=sys.stderr)
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", classes, "."], check=True)
    shutil.rmtree(classes)
    rundir = os.path.join(out, "run")
    os.makedirs(rundir, exist_ok=True)
    print("perfbench: recording the class-data archive", file=sys.stderr)
    subprocess.run(java_command(out, ["--archive-classes"], f"-XX:ArchiveClassesAtExit={jsa}"),
                   check=True, cwd=rundir, stdout=subprocess.DEVNULL)  # CDS's warnings
    if not os.path.exists(jsa):
        raise SystemExit("perfbench: the class-data archive was not written")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
