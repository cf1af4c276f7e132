"""The committed JVM jar must be the build of java/src.

Compiles java/src exactly as java/build.sh does and compares the class
files with the committed hllspark/jars/hllspark-jvm.jar, entry by entry
and byte for byte: an edit to the Java sources without a rebuild (or a
rebuild without committing the jar) fails here.  Skipped without javac or
a Spark distribution to compile against.
"""

import glob
import os
import shutil
import subprocess
import zipfile

import pyspark
import pytest

from hllspark import jvmagg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the Spark jars to compile against: $SPARK_HOME's, else pyspark's own
SPARK_JARS = os.path.join(
    os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars"
)


@pytest.mark.skipif(
    shutil.which("javac") is None or not os.path.isdir(SPARK_JARS),
    reason="needs javac and the Spark jars",
)
def test_committed_jar_matches_java_sources(tmp_path):
    sources = sorted(glob.glob(os.path.join(ROOT, "java", "src", "**", "*.java"),
                               recursive=True))
    subprocess.run(
        ["javac", "--release", "17", "-encoding", "UTF-8",
         "-cp", os.path.join(SPARK_JARS, "*"), "-d", str(tmp_path), *sources],
        check=True,
    )
    built = {
        os.path.relpath(f, tmp_path).replace(os.sep, "/"): open(f, "rb").read()
        for f in glob.glob(str(tmp_path / "**" / "*.class"), recursive=True)
    }
    with zipfile.ZipFile(jvmagg.jar_path()) as jar:
        committed = {
            n: jar.read(n) for n in jar.namelist() if n.endswith(".class")
        }
    assert sorted(committed) == sorted(built), "rebuild with sh java/build.sh"
    stale = [n for n in built if committed[n] != built[n]]
    assert not stale, f"stale classes {stale}: rebuild with sh java/build.sh"
