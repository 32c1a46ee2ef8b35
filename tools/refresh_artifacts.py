#!/usr/bin/env python
"""Write or check the committed oracle artifacts (``artifacts/sig_oracle``).

The one path that touches that directory. For each SF_DIR, every
family in ``queries/artifact_families.ARTIFACT_FAMILIES`` is built from
its model builder — the same frame its queries consume in-plan — and
compared by value with its committed file:

- default: a missing or differing artifact is (re)written through
  ``sig_artifacts.materialize_frame`` / ``materialize_signatures``;
  value-identical files are left byte-for-byte untouched. The
  rewritten files are listed.
- ``--check``: nothing is written; every missing or differing artifact
  is listed and the exit status is 1.

Usage: python tools/refresh_artifacts.py [--check] [SF_DIR ...]
(default SF_DIRs: the three driver corpora ``~/testdata/sf0.001``,
``sf0.01`` and ``sf0.1``)
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SF_DIRS = [os.path.expanduser(f"~/testdata/sf{sf}")
                   for sf in ("0.001", "0.01", "0.1")]


def refresh(spark, sf_dir: str, check: bool = False,
            families=None) -> list[str]:
    """Bring the artifacts of ``families`` (default: all) for
    ``sf_dir``'s corpus up to date; with ``check``, write nothing and
    return the artifact files that are missing or differ."""
    from mapreducewordcount_spark.queries.artifact_families import (
        ARTIFACT_FAMILIES,
    )
    from mapreducewordcount_spark.sources import sig_artifacts as sa

    stale = []
    for name in families or ARTIFACT_FAMILIES:
        fam = ARTIFACT_FAMILIES[name]
        df, key = fam.build(spark, sf_dir), fam.key(spark, sf_dir)
        if check:
            out, target = (sa.signature_artifact(df, name, key, *fam.sig_cols)
                           if fam.sig_cols else
                           sa.frame_artifact(df, name, key))
            if not sa.matches_committed(out, target):
                stale.append(target.relative_to(sa.ARTIFACT_ROOT).as_posix())
        elif fam.sig_cols:
            sa.materialize_signatures(df, name, key, *fam.sig_cols)
        else:
            sa.materialize_frame(df, name, key, list(fam.sort_cols))
        spark.catalog.clearCache()
    return stale


def _digests(root) -> dict[str, str]:
    return {p.relative_to(root).as_posix():
            hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*.parquet"))
            if ".tmp" not in p.parts}


def main() -> int:
    args = sys.argv[1:]
    check = "--check" in args
    sf_dirs = [a for a in args if a != "--check"] or DEFAULT_SF_DIRS

    from mapreducewordcount_spark.session import get_spark
    from mapreducewordcount_spark.sources.sig_artifacts import ARTIFACT_ROOT

    spark = get_spark("refresh-artifacts",
                      {"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    before = _digests(ARTIFACT_ROOT)
    rc = 0
    for sf_dir in sf_dirs:
        stale = refresh(spark, sf_dir, check=check)
        for path in stale:
            print(f"STALE {path}")
        rc |= bool(stale)
        print(f"{sf_dir}: {'stale: ' + str(len(stale)) if stale else 'ok'}")
    after = _digests(ARTIFACT_ROOT)
    for path in sorted(k for k in after if after[k] != before.get(k)):
        print(f"WROTE {path}")
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
