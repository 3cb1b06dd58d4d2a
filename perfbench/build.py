"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/src`), using the Scala compiler
that ships in the Spark distribution's jar directory, so a build needs no
dependency resolution and no network. The classes are packed into
`<build dir>/bench-<hash>.jar`, keyed by a hash of every Scala source file:
an unchanged tree is never rebuilt. The output is a jar, not a directory,
because the JVM's class-data-sharing archive (see run.py) accepts only jars
on the class path.

Usage: python3 perfbench/build.py   (prints the jar)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: neither SPARK_HOME nor spark-submit found")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler jar in {jars}")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))


def source_hash(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Return (program jar, source hash, Spark jar dir, whether it compiled)."""
    jars = spark_jars()
    files = sources(root)
    digest = source_hash(files, root)
    out = os.path.join(build_dir, f"bench-{digest}.jar")
    if os.path.isfile(out):
        return out, digest, jars, False
    tmp = os.path.join(build_dir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)
    return out, digest, jars, True


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build"))[0])
