"""Tests for the sweep harness utilities in tools/ (no Spark session).

ADVICE r7 (medium): ``merge_gate_logs.parse_log`` only matches
single-physical-line rows, so a RED status containing a newline (Py4J
exception text, pre-r8 driver_gate) silently vanished from the merged
summary — and ``checked`` was never validated, so a sweep could report
0 red while a failed query went uncounted. The merger now validates the
merged keys against an expected-name list (default: the full catalog)
and exits 2 on any missing query.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _run_merge(tmp_path: Path, log_text: str, expect: list[str]) -> tuple[int, dict]:
    log = tmp_path / "seg.log"
    log.write_text(log_text)
    out = tmp_path / "merged.json"
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(out),
            str(log),
            "--expect",
            *expect,
        ],
        capture_output=True,
        text=True,
    )
    return proc.returncode, json.loads(out.read_text())


def test_merge_fails_on_missing_query(tmp_path: Path) -> None:
    # q2's RED status embeds a newline — the classic vanishing-row shape:
    # the first fragment has no timing suffix, the tail fragment has no
    # query name, so neither parses and q2 drops out of the merge.
    log_text = (
        "q1                                            green  (1.23s)\n"
        "q2                                            RED comparator crashed: "
        "Py4JJavaError: An error occurred\n"
        "\tat org.apache.spark.Something  (4.56s)\n"
    )
    rc, summary = _run_merge(tmp_path, log_text, ["q1", "q2"])
    assert rc == 2
    assert summary["missing"] == ["q2"]
    assert summary["green"] == 1


def test_merge_green_when_all_expected_present(tmp_path: Path) -> None:
    log_text = (
        "q1                                            green  (1.23s)\n"
        "q2                                            RED bigout fingerprint "
        '{"rows_match": false}  (4.56s)\n'
    )
    rc, summary = _run_merge(tmp_path, log_text, ["q1", "q2"])
    assert rc == 1  # red present, but nothing missing
    assert summary["missing"] == []
    assert summary["red"] == ["q2"]


def test_later_segment_wins(tmp_path: Path) -> None:
    log1 = tmp_path / "a.log"
    log1.write_text("q1                  RED comparator crashed: X  (9.99s)\n")
    log2 = tmp_path / "b.log"
    log2.write_text("q1                  green  (1.00s)\n")
    out = tmp_path / "merged.json"
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(out),
            str(log1),
            str(log2),
            "--expect",
            "q1",
        ],
        capture_output=True,
        text=True,
    )
    summary = json.loads(out.read_text())
    assert proc.returncode == 0
    assert summary["red"] == [] and summary["green"] == 1


def test_merge_rejects_explicit_empty_expect(tmp_path: Path) -> None:
    """ADVICE r8: an explicitly EMPTY --expect used to fall through to
    'use the full catalog' — the opposite of a partial-segment caller's
    intent. nargs='+' makes it an argparse error now."""
    log = tmp_path / "seg.log"
    log.write_text("q1                  green  (1.00s)\n")
    proc = subprocess.run(
        [
            sys.executable,
            str(TOOLS / "merge_gate_logs.py"),
            str(tmp_path / "merged.json"),
            str(log),
            "--expect",
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 2  # argparse usage error
    assert "expected at least one argument" in proc.stderr


def test_driver_gate_transient_classification() -> None:
    """ADVICE r8: classify oracle-open failures by DuckDB exception TYPE
    first — a permanent config error mentioning 'memory' must not burn
    the 2x30s retry, an OutOfMemoryException must retry regardless of
    phrasing."""
    import sys as _sys
    from pathlib import Path as _P

    _sys.path.insert(0, str(TOOLS))
    try:
        import duckdb
        from driver_gate import _is_transient_duck_error
    finally:
        _sys.path.remove(str(TOOLS))

    assert _is_transient_duck_error(duckdb.OutOfMemoryException("weird phrasing"))
    # permanent typed errors, even when the text mentions memory
    assert not _is_transient_duck_error(
        duckdb.BinderException("invalid memory_limit setting")
    )
    assert not _is_transient_duck_error(duckdb.CatalogException("no such table"))
    # untyped OS-level pressure still retries via the substring fallback
    assert _is_transient_duck_error(OSError("resource temporarily unavailable"))
    assert not _is_transient_duck_error(ValueError("bad --sf-dir"))


def test_driver_gate_ioexception_requires_alloc_shape() -> None:
    """ADVICE r9 (low): duckdb.IOException also covers PERMANENT failures
    (missing/corrupt parquet, bad path). Only an allocation/spill-shaped
    IOException may retry; a bare file error fails fast."""
    import sys as _sys

    _sys.path.insert(0, str(TOOLS))
    try:
        import duckdb
        from driver_gate import _is_transient_duck_error
    finally:
        _sys.path.remove(str(TOOLS))

    assert _is_transient_duck_error(
        duckdb.IOException("could not allocate spill file block")
    )
    assert _is_transient_duck_error(duckdb.IOException("out of memory"))
    assert not _is_transient_duck_error(
        duckdb.IOException('No files found that match the pattern "/bad/*.parquet"')
    )
    assert not _is_transient_duck_error(
        duckdb.IOException("corrupt parquet footer")
    )

