"""A user-shipped word-count plugin, uploaded by the cli_warehouse workload with
``cli upload_plugin`` under the id ``pwc``.

It has no columnar implementation and declares no combiner, so the engine
runs it on the reference's ship-every-pair dataflow: every (word, "1") pair
crosses the shuffle and each key's values are collected before the reduce.
"""

import re

_SPLIT = re.compile(r"[\W_]+", re.UNICODE)


def pwc_map(filename, contents):
    for tok in _SPLIT.split(contents or ""):
        if tok:
            yield tok.lower(), "1"


def pwc_reduce(key, values):
    return str(len(values))
