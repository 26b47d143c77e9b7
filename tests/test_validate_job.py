"""The spark-submit entry point builds its suite from CheckSuite.default()."""

import pytest

from pynomaly_spark.checks import Drift
from pynomaly_spark.jobs.validate_job import _parser, _suite, main


def test_help_parses(capsys):
    with pytest.raises(SystemExit) as exc:
        main(["--help"])
    assert exc.value.code == 0
    assert "--salt-rows" in capsys.readouterr().out


@pytest.mark.parametrize(
    "has_commits, has_oracle, want",
    [
        (True, True, "e8baf6f1d8a896b8"),
        (True, False, "ab468e9bc88e9eee"),
        (False, True, "a5e450bcac6b1292"),
        (False, False, "79575a8431d49ab9"),
    ],
)
def test_default_arguments_keep_the_suite_hash(has_commits, has_oracle, want):
    """The checkpoint lineage hash of the suite built for the default
    arguments is the one the hand-typed suite had, with and without the
    commits table and the sha oracle."""
    args = _parser().parse_args(["--input", "x"])
    assert _suite(args, has_commits, has_oracle).suite_hash() == want


def test_drift_options_reach_the_drift_check():
    args = _parser().parse_args(
        ["--input", "x", "--k", "7", "--extent", "2", "--salt-rows", "0",
         "--exact-oversized"]
    )
    (drift,) = [c for c in _suite(args, True, False).checks if isinstance(c, Drift)]
    assert (drift.n_neighbors, drift.extent) == (7, 2)
    assert drift.max_group_rows is None and drift.exact_oversized
