"""The --py-files zip must be self-contained and importable via zipimport
(what executors do with it)."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).parent.parent


def test_pyfiles_zip_importable(tmp_path):
    out = tmp_path / "wpx.zip"
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "make_pyfiles.py"), str(out)],
        check=True,
        capture_output=True,
    )
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from wpextract_spark.kernel.content import extract_content; "
        "from wpextract_spark.htmlkit import parse_html; "
        "import wpextract_spark.pywarm_daemon; "
        "print(extract_content(parse_html('<p>ok</p>'), 'https://x/')['text'])"
    )
    res = subprocess.run(
        [sys.executable, "-c", probe, str(out)],
        capture_output=True,
        text=True,
        cwd=tmp_path,  # make sure the repo checkout isn't on the path
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "ok"


def test_pyfiles_zip_reproducible_and_source_only(tmp_path):
    """Content-addressed artifact: rebuilding an unchanged tree gives
    byte-identical zips; only package source ships (no tests/fixtures)."""
    import zipfile

    outs = []
    for name in ("a.zip", "b.zip"):
        out = tmp_path / name
        subprocess.run(
            [sys.executable, str(REPO / "scripts" / "make_pyfiles.py"), str(out)],
            check=True,
            capture_output=True,
        )
        outs.append(out.read_bytes())
    assert outs[0] == outs[1]
    names = zipfile.ZipFile(tmp_path / "a.zip").namelist()
    assert all(n.startswith("wpextract_spark/") and n.endswith(".py") for n in names)


ENTRY_POINTS = (
    "cli",
    "plans.job",
    "plans.pipeline",
    "plans.incremental",
    "plans.corpus_build",
    "plans.queries",
)


def _imported_names(path: Path) -> set[str]:
    """Every dotted name an import in ``path`` could refer to, function-local
    imports included. The package uses absolute imports only; a relative one
    would go unfollowed and fail the reachability test below."""
    import ast

    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reachable_from_an_entry_point():
    """Walk the static imports from the CLI, the plan modules and the query
    registry. The only module left over is the worker daemon, which
    ``session.py`` hands to Spark by name; anything else unreached is
    library-only code that no entry point runs."""
    pkg = REPO / "wpextract_spark"
    modules = {}
    for path in pkg.rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        modules[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path

    seen: set[str] = set()
    todo = [f"wpextract_spark.{m}" for m in ENTRY_POINTS]
    while todo:
        name = todo.pop()
        # importing a.b.c also imports the packages a.b and a
        while name and name not in seen:
            if name in modules:
                seen.add(name)
                todo.extend(_imported_names(modules[name]))
            name = name.rpartition(".")[0]

    assert sorted(set(modules) - seen) == ["wpextract_spark.pywarm_daemon"]
    session = (pkg / "session.py").read_text()
    assert '"spark.python.daemon.module", "wpextract_spark.pywarm_daemon"' in session


PYFILES_PROBE = """
import sys

from pyspark.sql import functions as F

from wpextract_spark.operators.extract import content_extract_udf
from wpextract_spark.session import default_builder

spark = default_builder("pyfiles-probe", master=sys.argv[1]).getOrCreate()
pages = spark.createDataFrame(
    [(i, f"<html><body><p>page {i}</p></body></html>", f"https://example.org/{i}/")
     for i in range(20)],
    "i long, html string, url string",
).repartition(4)
out = pages.select("i", content_extract_udf()("html", "url").alias("r"))
rows = out.select("i", "r.text", "r.error").orderBy("i").collect()
print(rows[7].text, sum(r.error is not None for r in rows))
spark.stop()
"""


def test_pyfiles_zip_runs_udfs_on_separate_executors(tmp_path):
    """The deployment shape end to end: ``spark-submit --py-files`` on
    ``local-cluster``, whose two executors are their own JVMs and see the
    package only through the zip. A session from ``default_builder`` must run
    the content kernel there, and stopping it must leave no executor or
    Python worker behind."""
    import os

    from pyspark.find_spark_home import _find_spark_home

    zip_path = tmp_path / "wpx.zip"
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "make_pyfiles.py"), str(zip_path)],
        check=True,
        capture_output=True,
    )
    probe = tmp_path / "probe.py"
    probe.write_text(PYFILES_PROBE)
    # Each executor runs in $SPARK_HOME/work/<app>/<n>; a private Spark home
    # of symlinks keeps those directories inside tmp_path.
    home = tmp_path / "spark_home"
    home.mkdir()
    for entry in Path(_find_spark_home()).iterdir():
        if entry.name != "work":
            (home / entry.name).symlink_to(entry)
    work = home / "work"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_HOME=str(home),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    master = "local-cluster[2,1,1024]"
    res = subprocess.run(
        ["timeout", "-k", "10", "300", str(home / "bin" / "spark-submit"), "--master", master,
         "--py-files", str(zip_path), str(probe), master],
        capture_output=True,
        text=True,
        cwd=tmp_path,  # make sure the repo checkout isn't on the path
        env=env,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert res.stdout.strip().splitlines()[-1] == "page 7 0"

    def _cwd(pid: str) -> str:
        try:
            return os.readlink(f"/proc/{pid}/cwd")
        except OSError:
            return ""

    assert any(work.glob("app-*/*/stderr")), "no executor ran"
    leftover = [p for p in os.listdir("/proc") if p.isdigit() and _cwd(p).startswith(str(work))]
    assert leftover == []
