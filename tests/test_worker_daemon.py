"""The worker daemon's sys.path pruning: the pure rule, its archive
reader, the import-free start-up it needs, what a real worker sees, and
how a session puts the package on the workers' PYTHONPATH."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import memo_fraktur_ocr_code_spark
from memo_fraktur_ocr_code_spark.worker_daemon import (
    _archive_packages,
    shadowed_archives,
)

HOME = "/srv/spark"
PYSPARK_ZIP = f"{HOME}/python/lib/pyspark.zip"
PY4J_ZIP = f"{HOME}/python/lib/py4j-0.10.9.9-src.zip"
CORE_JAR = f"{HOME}/jars/spark-core_2.13-4.1.2.jar"
USER_ZIP = "/work/deps.zip"
USER_JAR = "/work/udf.jar"
PATH = [
    "/work",
    PYSPARK_ZIP,
    PY4J_ZIP,
    CORE_JAR,
    USER_ZIP,
    USER_JAR,
    "/usr/lib/python3.11/site-packages",
]
ARCHIVES = {
    PYSPARK_ZIP: {"pyspark": "4.1.2"},
    PY4J_ZIP: {"py4j": "0.10.9.9"},
    CORE_JAR: {},
    USER_ZIP: {"pyspark": "4.1.2"},
    USER_JAR: {},
}
INSTALLED = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


def test_drops_shadowed_spark_archives_and_the_python_free_jar():
    assert shadowed_archives(PATH, HOME, ARCHIVES, INSTALLED) == {
        PYSPARK_ZIP,
        PY4J_ZIP,
        CORE_JAR,
    }


def test_keeps_the_python_archives_unless_every_package_matches():
    for resolved in (
        {"pyspark": "4.0.1", "py4j": "0.10.9.9"},  # other pyspark version
        {"py4j": "0.10.9.9"},  # pyspark not installed elsewhere
        {"pyspark": "4.1.2"},  # py4j not installed elsewhere
        {"pyspark": "4.1.2", "py4j": "0.10.9.7"},  # other py4j version
        {"pyspark": None, "py4j": None},  # versions unreadable
        {},
    ):
        assert shadowed_archives(PATH, HOME, ARCHIVES, resolved) == {CORE_JAR}
    unversioned = {**ARCHIVES, PYSPARK_ZIP: {"pyspark": None}}
    assert shadowed_archives(PATH, HOME, unversioned, INSTALLED) == {CORE_JAR}


def test_archives_outside_spark_home_always_stay():
    drop = shadowed_archives(PATH, HOME, ARCHIVES, INSTALLED)
    assert USER_ZIP not in drop and USER_JAR not in drop
    # a sibling directory sharing the prefix is not under SPARK_HOME
    lookalike = f"{HOME}-extra/lib/x.jar"
    assert shadowed_archives([lookalike], HOME, {lookalike: {}}, {}) == set()


def test_archive_packages_reads_tops_and_versions(tmp_path):
    pyzip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyzip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
        z.writestr("pyspark/sql/__init__.py", "")
        z.writestr("six.py", "")
    jar = tmp_path / "core.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
        z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
        z.writestr("pyspark/resource.txt", "")
    assert _archive_packages(str(pyzip)) == {"pyspark": "4.1.2", "six": None}
    assert _archive_packages(str(jar)) == {}


def test_daemon_module_imports_nothing_from_pyspark():
    # the daemon must prune before pyspark's first import, so neither it
    # nor the package __init__ it runs under may import pyspark
    init = ast.parse(Path(memo_fraktur_ocr_code_spark.__file__).read_text())
    assert not any(
        isinstance(n, (ast.Import, ast.ImportFrom)) for n in ast.walk(init)
    )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys, memo_fraktur_ocr_code_spark.worker_daemon;"
            "print(sorted(m for m in sys.modules"
            " if m.split('.')[0] in ('pyspark', 'py4j')))",
        ],
        cwd=Path(memo_fraktur_ocr_code_spark.__file__).parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]"


def test_workers_import_the_drivers_pyspark(spark):
    import pyspark

    def probe(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pyspark": [os.path.realpath(worker_pyspark.__file__)],
                "spark_home": [os.path.realpath(os.environ["SPARK_HOME"])],
                "archives": [[p for p in sys.path if os.path.isfile(p)]],
                "zipimporters": [
                    [
                        k
                        for k, v in sys.path_importer_cache.items()
                        if isinstance(v, zipimport.zipimporter)
                    ]
                ],
            }
        )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(
            probe,
            "pyspark string, spark_home string,"
            " archives array<string>, zipimporters array<string>",
        )
        .collect()
    )
    assert len(rows) == 4
    driver = os.path.realpath(pyspark.__file__)
    for r in rows:
        assert r.pyspark == driver
        home = r.spark_home + os.sep
        left = [
            p
            for p in r.archives + r.zipimporters
            if os.path.realpath(p).startswith(home)
        ]
        assert left == [], left


def test_export_to_workers_appends_the_package_location(tmp_path):
    # a zip shipped with --py-files: its driver path serves local
    # masters, its bare name the executors' working directory
    root = Path(memo_fraktur_ocr_code_spark.__file__).parent
    shipped = tmp_path / "memo_fraktur_ocr_code_spark.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        for f in root.rglob("*.py"):
            z.write(f, f.relative_to(root.parent))
    code = (
        "import types\n"
        "from memo_fraktur_ocr_code_spark.session import export_to_workers\n"
        "env = {'PYTHONPATH': '{{PWD}}/pyspark.zip'}\n"
        "spark = types.SimpleNamespace("
        "sparkContext=types.SimpleNamespace(environment=env))\n"
        "export_to_workers(spark)\n"
        "export_to_workers(spark)\n"
        "print(env['PYTHONPATH'])\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(shipped)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip().split(os.pathsep) == [
        "{{PWD}}/pyspark.zip",
        str(shipped),
        shipped.name,
    ]
