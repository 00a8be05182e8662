"""plans/registry.resolve: query IDs by exact name or unique prefix."""

import os
import subprocess
import sys

import pytest

from stock_crypto_data_pipeline_public_spark.plans import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prefixes_and_exact_names_resolve():
    registry.load_all()
    assert registry.resolve(["s01", "s14_idle_timeout_eviction"]) == [
        "s01_streaming_ingest_end_state",
        "s14_idle_timeout_eviction",
    ]


@pytest.mark.parametrize("name", ["nosuchquery", "s0"])
def test_unknown_or_ambiguous_name_raises(name):
    registry.load_all()
    with pytest.raises(ValueError, match=repr(name)):
        registry.resolve([name])


def test_verify_contract_rejects_bad_only_before_spark():
    """A bad --only fails at argument time: no entry() smoke check, no
    JVM."""
    r = subprocess.run(
        [sys.executable, "scripts/verify_contract.py", "--only", "s01", "--only", "s0"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2
    assert "'s0' matches" in r.stderr
    assert "entry()" not in r.stdout
