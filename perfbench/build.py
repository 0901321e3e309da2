#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) into
<build dir>/classes and the benchmark's harness (perfbench/src) into
<build dir>/harness-classes, with the Scala compiler that ships in Spark's
jars directory.

    python3 perfbench/build.py    # into $CARGO_TARGET_DIR or .bench_build

Each of the two is skipped when a stamp of its source files matches its
last build. Gate bodies name their committed fixtures by absolute path; before
compiling, every absolute path that ends in /src/test/resources is rebased
onto this checkout, so a checkout anywhere reads its own fixtures (a no-op
when the checkout already sits at that path).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FIXTURE_PREFIX = re.compile(r"""(?<=["'])/[^"'\s]*?(?=/src/test/resources/)""")


def build_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return (ROOT / target).resolve()


def spark_jars():
    """Spark's jars directory: $SPARK_JARS_DIR, $SPARK_HOME/jars, or the
    jars next to the spark-submit found on PATH."""
    cands = [os.environ.get("SPARK_JARS_DIR")]
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)),
                                  "..", "jars"))
    for c in cands:
        if c and glob.glob(os.path.join(c, "spark-core_*.jar")):
            return os.path.realpath(c)
    sys.exit("perfbench: Spark jars not found "
             "(set SPARK_HOME or SPARK_JARS_DIR)")


def program_sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        sys.exit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return prog


def source_hash(files, *extra):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for x in extra:
        h.update(x.encode())
    return h.hexdigest()


def compile_unit(name, files, cp, want, rebase):
    """Compile `files` against the classpath `cp` into <build dir>/<name>,
    unless the unit's stamp already reads `want`. With `rebase`, sources
    are compiled from a staged copy with the fixture paths rebased."""
    out = build_dir()
    classes = out / name
    stamp = out / f"{name}.stamp"
    if stamp.exists() and stamp.read_text() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    srcs = files
    if rebase:
        staged = out / "src"
        shutil.rmtree(staged, ignore_errors=True)
        srcs = []
        for f in files:
            dst = staged / f.relative_to(ROOT)
            dst.parent.mkdir(parents=True, exist_ok=True)
            dst.write_text(FIXTURE_PREFIX.sub(str(ROOT), f.read_text()))
            srcs.append(dst)
    classes.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} sources into {name}",
          file=sys.stderr)
    argfile = out / f"{name}.args"
    argfile.write_text("\n".join(
        ["-d", str(classes), "-classpath", ":".join(cp), "-nowarn"]
        + [str(p) for p in srcs]))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g",
         "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
         "@" + str(argfile)],
        stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compilation of {name} failed")
    stamp.write_text(want)
    return classes


def build():
    """Compile what changed; return the runtime classpath. The program and
    the harness are separate units, so editing the harness does not
    recompile the program."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    prog_stamp = source_hash(program_sources(), FIXTURE_PREFIX.pattern,
                             str(ROOT))
    prog = compile_unit("classes", program_sources(), jars, prog_stamp,
                        rebase=True)
    harness = sorted((BENCH / "src").rglob("*.scala"))
    bench = compile_unit("harness-classes", harness, [str(prog)] + jars,
                         source_hash(harness, prog_stamp), rebase=False)
    return [str(bench), str(prog)] + jars


if __name__ == "__main__":
    build()
