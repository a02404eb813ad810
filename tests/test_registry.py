"""Driver-check rotation: tiers derive from the committed driver results
(``CORRECTNESS_rN.json``), and the entries changed since their last check
(``registry._RECHECK``) lead the fixed-size prefix the driver checks."""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__
from crest_spark.registry import _RECHECK, _last_checked, load_all

_PREFIX = 50  # the driver checks this many entries of queries() per round
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_recheck_entries_lead_the_checked_prefix():
    specs = load_all()
    assert not set(_RECHECK) - set(specs), "unregistered _RECHECK names"
    assert len(set(_RECHECK)) == len(_RECHECK)
    prefix = list(__spark_entry__.queries())[:_PREFIX]
    assert not [n for n in _RECHECK if n not in prefix]


def test_tiers_come_from_the_committed_results():
    rounds = {
        int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")]): p
        for p in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))
    }
    newest = max(rounds)
    with open(rounds[newest]) as fh:
        checked = [n for n in json.load(fh) if n not in _RECHECK]
    last = _last_checked()
    assert checked and {last[n] for n in checked} == {newest}
