"""Build file of the benchmark: compiles the library sources (src/main/scala)
and the benchmark program (perfbench/src) into .bench_build/perfbench/perfbench.jar
with the Scala compiler that ships in the Spark distribution's jars directory.

Run from the repository root:  python3 perfbench/build.py
The build is skipped when a stamp of the sources' content hash matches.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ("src/main/scala", "perfbench/src")
OUT = pathlib.Path(".bench_build") / "perfbench"


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    distribution that holds the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(os.path.realpath(submit)).parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not jars.is_dir():
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        files += sorted((root / d).rglob("*.scala"))
    return files


def build(root=pathlib.Path(".")):
    """Compile if the sources changed; return the runtime classpath and the
    sources' content hash."""
    for d in SOURCE_DIRS:
        if not (root / d).is_dir():
            sys.exit(f"perfbench: missing source directory {d}; run from the repository root")
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = root / OUT
    jar = out / "perfbench.jar"
    classpath = f"{jar}{os.pathsep}{jars}/*"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and jar.is_file():
        return classpath, stamp
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        sys.exit(f"perfbench: compilation failed (exit {res.returncode})")
    # a jar, not a directory: the JVM's class-data sharing archive (see
    # run.py) only covers classes loaded from jars
    with zipfile.ZipFile(out / "perfbench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (out / "perfbench.jar.tmp").replace(jar)
    (out / "classes.jsa").unlink(missing_ok=True)
    stamp_file.write_text(stamp)
    return classpath, stamp


if __name__ == "__main__":
    print(build()[0])
