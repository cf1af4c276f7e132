"""The committed JVM jar must be the build of java/src.

Compiles java/src exactly as java/build.sh does and compares the class
files with the committed hllspark/jars/hllspark-jvm.jar, entry by entry
and byte for byte: an edit to the Java sources without a rebuild (or a
rebuild without committing the jar) fails here.  Skipped without javac or
a Spark distribution to compile against.  Every class must also be
called from somewhere, so a dead one fails too.
"""

import ast
import glob
import os
import re
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


def _code_words_py(path):
    """The words of a Python file's code: names, attributes and string
    literals, without comments and docstrings."""
    tree = ast.parse(open(path).read())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef))
        and node.body and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    words = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            words.add(node.id)
        elif isinstance(node, ast.Attribute):
            words.add(node.attr)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docs):
            words.update(re.findall(r"\w+", node.value))
    return words


def _code_words_java(path):
    """The words of a Java file without its comments."""
    src = re.sub(r"/\*.*?\*/|//[^\n]*", " ", open(path).read(), flags=re.S)
    return set(re.findall(r"\w+", src))


def test_every_java_class_is_used():
    """Each top-level class under java/src is named by the code (not a
    comment or docstring) of hllspark/*.py or of another java/src file, so
    a class nothing calls any more fails here instead of shipping dead in
    the jar."""
    java = sorted(glob.glob(os.path.join(ROOT, "java", "src", "**", "*.java"),
                            recursive=True))
    py_words = set()
    for path in glob.glob(os.path.join(ROOT, "hllspark", "*.py")):
        py_words |= _code_words_py(path)
    java_words = {path: _code_words_java(path) for path in java}
    unused = [
        os.path.basename(path)
        for path in java
        if (cls := os.path.splitext(os.path.basename(path))[0]) not in py_words
        and not any(cls in words for other, words in java_words.items()
                    if other != path)
    ]
    assert not unused, f"java classes nothing uses: {unused}"
