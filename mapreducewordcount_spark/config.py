"""Reference-compatible configuration loader (SURVEY.md C10, §7 step 2).

Accepts the reference's ``config.yaml`` schema (driver host/port,
``mapreduce.num_map_tasks``/``num_reduce_tasks``, ``directories``,
``task_settings`` — see reference ``config.yaml:1-20``) and maps each
knob to its Spark meaning:

- ``num_map_tasks`` (N) → accepted and validated (at least 1), but
  nothing reads it: map parallelism comes from the split setting the
  word-count sink runs under (``per_file_splits`` in
  ``sources/text.py``), which gives each small input file its own
  split, largest first — the reference's LPT balancer
  (``src/driver.py:41-68``).
- ``num_reduce_tasks`` (M) → output bucket count for the parity sink.
- ``directories.input`` / ``directories.output`` → scan / sink paths.
  ``directories.intermediate`` has **no equivalent** — Spark owns
  shuffle storage; accepted and ignored.
- ``driver.*`` / ``task_settings.*`` → subsumed by the Spark
  scheduler (retries are real via ``spark.task.maxFailures``; the
  reference's ``retry_attempts`` was dead config, ``src/worker.py:33``).
  Accepted and ignored.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    input_dir: str
    output_dir: str
    num_map_tasks: int = 6
    num_reduce_tasks: int = 4
    tokenizer_mode: str = "native"

    @property
    def n(self) -> int:
        return self.num_map_tasks

    @property
    def m(self) -> int:
        return self.num_reduce_tasks


def load_config(path: str, base_dir: str | None = None) -> EngineConfig:
    """Parse a reference-schema config.yaml into EngineConfig.

    Relative directories resolve against the config file's directory
    (the reference resolved them against the source dir —
    ``src/driver.py:12-22`` hard-coded ``../config.yaml``; anchoring
    on the config file is the portable restatement).
    """
    import yaml

    with open(path, encoding="utf-8") as f:
        raw = yaml.safe_load(f) or {}
    base = base_dir or os.path.dirname(os.path.abspath(path))

    def resolve(p: str) -> str:
        return p if os.path.isabs(p) else os.path.normpath(os.path.join(base, p))

    dirs = raw.get("directories", {})
    mr = raw.get("mapreduce", {})
    counts = {"num_map_tasks": int(mr.get("num_map_tasks", 6)),
              "num_reduce_tasks": int(mr.get("num_reduce_tasks", 4))}
    for key, n in counts.items():
        if n < 1:
            raise ValueError(f"mapreduce.{key} must be at least 1, got {n}")
    return EngineConfig(
        input_dir=resolve(dirs.get("input", "inputs")),
        output_dir=resolve(dirs.get("output", "out")),
        **counts,
        tokenizer_mode=raw.get("engine", {}).get("tokenizer_mode", "native"),
    )
