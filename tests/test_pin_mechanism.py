"""One pin mechanism in the batch engine: ``localCheckpoint``.

A localCheckpoint frame is freed when its references go, and the plan
audit (tests/test_plan_audit.py) records the plan behind every one.
``persist``/``cache`` register a CacheManager entry keyed by plan that
outlives every reference (a later same-plan construction silently reads
it, and ``unpersist`` drops another holder's entry); reliable
``checkpoint`` needs a checkpoint directory the engine does not own.
This scan keeps those out of the package except where the frame's
owner releases it explicitly. Spark-free: it reads source text only.
"""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "datafusion_uba_spark"

_OTHER_PIN = re.compile(r"\.persist\(|\.cache\(\)|\.checkpoint\(|StorageLevel")

# (module, stripped source line) -> why this site is not a localCheckpoint
_EXEMPT = {
    (
        "streaming/__init__.py",
        "corpus_fp = corpus_fp.persist()",
    ): "static side of a long-lived stream: it must recompute after "
    "executor loss rather than fail; the caller releases it with "
    "spark.catalog.clearCache() after stopping the query",
    (
        "sources/__init__.py",
        "df = df.cache()",
    ): "register(cache=True): a named-table cache the user asks for "
    "and releases with spark.catalog.uncacheTable(name)",
}


def test_localcheckpoint_is_the_only_batch_pin():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if _OTHER_PIN.search(line):
                found[(rel, line.strip())] = no
    unexpected = {k: v for k, v in found.items() if k not in _EXEMPT}
    assert not unexpected, (
        "pin with localCheckpoint, or justify the site in _EXEMPT: "
        f"{unexpected}"
    )
    # a moved or deleted exemption must leave the list with it
    assert set(found) == set(_EXEMPT), set(_EXEMPT) - set(found)
