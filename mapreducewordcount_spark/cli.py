"""Engine CLI — the launcher-equivalent entry point (SURVEY.md §7 step 2).

Replaces the reference's three-process choreography
(``launcher.py`` → Flask driver + N polling workers) with one
command:

    python -m mapreducewordcount_spark run --config config.yaml --workers 8
    python -m mapreducewordcount_spark run --input DIR --output DIR -m 4

``--workers n`` maps to ``local[n]`` when no cluster master is set —
the moral twin of ``python launcher.py n`` (reference
``launcher.py:58-73``), minus its 5 s driver wait and 1 s per-worker
stagger (Spark executors register in milliseconds).

Output: flat ``out-<bucket>`` files in the output dir, matching the
reference's reduce-output naming (``src/worker.py:133-137``).
"""

from __future__ import annotations

import argparse
import os
import sys


def _count(text: str) -> int:
    """argparse type for bucket and worker counts: an int >= 1."""
    try:
        n = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"invalid int value: {text!r}") from None
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mapreducewordcount_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run the word-count pipeline")
    run.add_argument("--config", help="reference-schema config.yaml")
    run.add_argument("--input", help="input directory of *.txt files")
    run.add_argument("--output", help="output directory")
    run.add_argument("-m", "--reduce-tasks", type=_count, default=None,
                     help="number of output buckets (M)")
    run.add_argument("--workers", type=_count, default=None,
                     help="local parallelism (maps to local[n])")
    run.add_argument("--mode", choices=("native", "parity"), default=None,
                     help="tokenizer mode")

    stream = sub.add_parser(
        "stream", help="run the word-count pipeline as a streaming job "
        "(counts refresh as new files land in the input dir)")
    stream.add_argument("--input", required=True)
    stream.add_argument("--output", required=True)
    stream.add_argument("-m", "--reduce-tasks", type=_count, default=4)
    stream.add_argument("--checkpoint", default=None,
                        help="checkpoint dir (default: <output>.checkpoint — "
                        "a sibling, NOT inside the output dir, which each "
                        "micro-batch overwrites)")
    stream.add_argument("--once", action="store_true",
                        help="process available input then exit "
                        "(default: run until interrupted)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd == "stream":
        return _run_stream(args)
    if args.cmd != "run":  # pragma: no cover - argparse enforces
        return 2

    if args.config:
        from mapreducewordcount_spark.config import load_config

        cfg = load_config(args.config)
        input_dir = args.input or cfg.input_dir
        output_dir = args.output or cfg.output_dir
        m = args.reduce_tasks or cfg.m
        mode = args.mode or cfg.tokenizer_mode
    else:
        if not (args.input and args.output):
            print("error: provide --config or both --input and --output",
                  file=sys.stderr)
            return 2
        input_dir, output_dir = args.input, args.output
        m = args.reduce_tasks or 4
        mode = args.mode or "native"

    if args.workers:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.workers)

    from mapreducewordcount_spark.operators.wordcount import (
        wordcount_pipeline,
        write_wordcount_output,
    )
    from mapreducewordcount_spark.session import get_spark

    spark = get_spark("mapreducewordcount_spark-cli")
    counts = wordcount_pipeline(spark, input_dir, mode=mode)
    write_wordcount_output(counts, output_dir, m=m)
    print(f"wrote {m} bucket files to {output_dir}")
    return 0


def _run_stream(args) -> int:
    from pyspark.sql import types as T

    from mapreducewordcount_spark.session import get_spark
    from mapreducewordcount_spark.streaming.jobs import (
        start_wordcount_to_reference_sink,
    )

    spark = get_spark("mapreducewordcount_spark-stream")
    lines = (spark.readStream
             .schema(T.StructType([T.StructField("value", T.StringType())]))
             .option("pathGlobFilter", "*.txt")
             .text(args.input))
    # sibling path: the reference sink overwrites the output dir every
    # micro-batch, which would destroy a checkpoint nested inside it
    ckpt = args.checkpoint or args.output.rstrip("/") + ".checkpoint"
    q = start_wordcount_to_reference_sink(
        lines, args.output, m=args.reduce_tasks, checkpoint_dir=ckpt)
    if args.once:
        q.processAllAvailable()
        q.stop()
        print(f"processed available input; {args.reduce_tasks} bucket "
              f"files in {args.output}")
        return 0
    print(f"streaming {args.input} -> {args.output} (ctrl-c to stop)")
    try:
        q.awaitTermination()
    except KeyboardInterrupt:  # pragma: no cover - interactive path
        q.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
