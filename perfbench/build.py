"""Build file of the benchmark: compiles the program (`src/main/scala`
plus `src/main/resources`) and the harness (`perfbench/src`) with the
Scala compiler that ships in Spark's jar directory, packs each into a jar
under `.bench_build/` at the root of the checkout. A stamp of the
sources' content makes a second build with unchanged sources a no-op.

Usage: python3 perfbench/build.py   (from the root of the checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

OUT = ".bench_build"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm(classpath, tmp):
    """The harness JVM command line. Temporary files go to `tmp` (inside
    the checkout); the caller passes the same directory to Spark as
    SPARK_LOCAL_DIRS."""
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false"]
            + ["-cp", classpath, "perfbench.Main"])


def env(tmp):
    return dict(os.environ, SPARK_LOCAL_DIRS=tmp)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    compiler = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", dest] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit(f"perfbench: compiling {dest} failed")


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def build():
    """Compile if needed; returns the runtime classpath."""
    main_src = sources("src/main/scala")
    bench_src = sources("perfbench/src")
    if not main_src:
        sys.exit("perfbench: no program sources under src/main/scala")
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    jars = spark_jars()
    main_cls, bench_cls = os.path.join(OUT, "main"), os.path.join(OUT, "bench")
    main_jar, bench_jar = os.path.join(OUT, "graft.jar"), os.path.join(OUT, "perfbench.jar")
    classpath = os.pathsep.join([bench_jar, main_jar, os.path.join(jars, "*")])
    want = stamp(main_src + resources + bench_src + [__file__])
    stamp_file = os.path.join(OUT, "stamp")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want:
        shutil.rmtree(OUT, ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), main_cls, main_src)
        for r in resources:
            dst = os.path.join(main_cls, os.path.relpath(r, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        scalac(jars, os.pathsep.join([main_cls, os.path.join(jars, "*")]), bench_cls,
               bench_src)
        pack(main_cls, main_jar)
        pack(bench_cls, bench_jar)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return classpath


if __name__ == "__main__":
    print(build())
