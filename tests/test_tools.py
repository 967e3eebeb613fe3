"""Guards in the measurement tools under ``tools/``."""

import os
import shutil
import subprocess
import sys

import pytest

from tools import amplify_sf

TOOLS = os.path.dirname(os.path.abspath(amplify_sf.__file__))


class _SparkStarted(Exception):
    pass


def _run_amplify(monkeypatch, src, dst):
    def no_spark(*args, **kwargs):
        raise _SparkStarted

    monkeypatch.setattr(amplify_sf, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["amplify_sf.py", str(src), str(dst), "2"])
    amplify_sf.main()


@pytest.mark.parametrize("dst", ["same", "nested", "symlink"])
def test_amplify_refuses_dst_overlapping_src(tmp_path, monkeypatch, dst):
    """Writing into the source tree would overwrite parquet directories Spark
    is still scanning; the tool must refuse before it starts Spark."""
    src = tmp_path / "src"
    src.mkdir()
    target = {"same": src, "nested": src / "amp" / "x10", "symlink": tmp_path / "link"}[dst]
    if dst == "symlink":
        target.symlink_to(src)
    with pytest.raises(SystemExit, match="inside src"):
        _run_amplify(monkeypatch, src, target)
    assert not (src / "amp").exists()


def test_amplify_accepts_sibling_dst(tmp_path, monkeypatch):
    src = tmp_path / "src"
    src.mkdir()
    with pytest.raises(_SparkStarted):
        _run_amplify(monkeypatch, src, tmp_path / "src_amp")


def test_oracle_check_imports_its_own_checkout(tmp_path):
    """Run from a copy, the oracle gate must check the copy's engine, not
    whichever checkout happens to be installed elsewhere."""
    root = tmp_path / "checkout"
    (root / "tools").mkdir(parents=True)
    shutil.copy(os.path.join(TOOLS, "oracle_check.py"), root / "tools")
    stub = root / "__spark_entry__.py"
    stub.write_text("STUB = True\n")
    probe = (
        "import runpy, sys; runpy.run_path(sys.argv[1]); "
        "import __spark_entry__; print(__spark_entry__.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(root / "tools" / "oracle_check.py")],
        cwd=tmp_path, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == str(stub)


def test_loc_counts_code_lines_only(tmp_path, capsys):
    """Blank lines, ``#`` comments and module/class/function docstrings are
    not code; everything else is, including a string that is not the first
    statement of its body."""
    from tools import loc

    src = tmp_path / "m.py"
    src.write_text(
        '"""Module docstring\n'
        'over two lines."""\n'
        "\n"
        "# a comment\n"
        "import os\n"
        "\n"
        "\n"
        "class C:\n"
        '    """Class docstring."""\n'
        "\n"
        "    def f(self):\n"
        '        """Function\n'
        "        docstring.\n"
        '        """\n'
        "        # indented comment\n"
        '        x = "not a docstring"\n'
        "        return os.sep + x\n"
    )
    assert loc.count(str(src)) == 5
    loc.main([str(tmp_path)])
    assert capsys.readouterr().out.splitlines()[-1].split() == ["5", "total"]


def test_analysis_imports_no_extraction_inputs():
    """Analysis is a function of the graph: no module under
    ``cartography_spark/analysis/`` imports ``cartography_spark.sources``
    (checked on the source text; nothing is imported or run)."""
    import ast
    import pathlib

    pkg = pathlib.Path(TOOLS).parent / "cartography_spark" / "analysis"
    banned = "cartography_spark.sources"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = "cartography_spark.analysis".split(".")
                mod = ".".join(base[: len(base) - node.level + 1] if node.level else [])
                mod = ".".join(p for p in (mod, node.module or "") if p)
                names = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            if any(n == banned or n.startswith(banned + ".") for n in names):
                found.append(f"{path.name}:{node.lineno}")
    assert pkg.is_dir() and not found, found
