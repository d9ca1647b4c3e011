"""The registry's order is the committed list in plans/order.py.

Importing the package places every entry by that list and nothing
else: it reads no record or stamp file and hashes no source, and a
list that is out of step with the registered names stops the import.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lol_data_pipeline_spark.plans import apply_order


def test_apply_order_reorders_in_place():
    registry = {"c": 3, "a": 1, "b": 2}
    apply_order(registry, ("a", "b", "c"))
    assert list(registry.items()) == [("a", 1), ("b", 2), ("c", 3)]


@pytest.mark.parametrize(
    "order, named",
    [
        (("a", "b"), "c"),  # registered, not listed
        (("a", "b", "c", "d"), "d"),  # listed, not registered
        (("a", "b", "c", "b"), "b"),  # listed twice
    ],
    ids=["missing", "extra", "duplicate"],
)
def test_apply_order_rejects_a_list_out_of_step(order, named):
    registry = {"c": 3, "a": 1, "b": 2}
    with pytest.raises(ImportError, match=f"'{named}'"):
        apply_order(registry, order)
    assert list(registry) == ["c", "a", "b"]  # untouched on refusal


_IMPORT_PROBE = """
import builtins, inspect, json

opened = []
_open = builtins.open


def recording_open(file, *args, **kwargs):
    opened.append(str(file))
    return _open(file, *args, **kwargs)


def no_getsource(*args, **kwargs):
    raise AssertionError("inspect.getsource called during import")


builtins.open = recording_open
inspect.getsource = no_getsource
import lol_data_pipeline_spark.plans as plans
from lol_data_pipeline_spark.plans.order import ORDER

builtins.open = _open
print(json.dumps({
    "json_opened": [f for f in opened if f.endswith(".json")],
    "in_order": list(plans.REGISTRY) == list(ORDER),
}))
"""


def test_import_reads_no_json_and_follows_order():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        capture_output=True, text=True, check=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe == {"json_opened": [], "in_order": True}
