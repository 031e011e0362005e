"""The reference domains ``tools/gen_sf.py`` draws categories from.

``gen_sf.generate`` copies ``region``/``nation`` verbatim from a
reference directory and reads every categorical domain (with the
``documents.lang`` weights) from it. This module writes the smallest
such directory from constants, so input generation depends on nothing
outside the checkout.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANG_WEIGHTS = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}


def _cycle(values: list, n: int) -> list:
    return [values[i % len(values)] for i in range(n)]


def write(ref: str) -> str:
    """Write the reference directory at ``ref`` and return it."""
    os.makedirs(ref, exist_ok=True)
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_mktsegment": pa.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ),
        },
        "part": {
            "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)]),
            "p_type": pa.array(
                _cycle(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], 25)
            ),
        },
        "orders": {
            "o_orderstatus": pa.array(_cycle(["F", "O", "P"], 5)),
            "o_orderpriority": pa.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ),
        },
        "events": {
            "event_type": pa.array(["click", "error", "purchase", "signup", "view"]),
        },
    }
    langs = [lang for lang, n in _LANG_WEIGHTS.items() for _ in range(n)]
    tables["documents"] = {
        "lang": pa.array(langs),
        "source": pa.array(_cycle([f"src{i}" for i in range(20)], len(langs))),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(ref, f"{name}.parquet"))
    return ref
