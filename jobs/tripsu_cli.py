"""tripsu-compatible CLI: the reference's two subcommands
(reference src/main.rs:76-103), re-expressed on Spark.

    # pass 1 — build the type index (tripsu: `tripsu index in.nt > idx.json`)
    python jobs/tripsu_cli.py index INPUT.nt -o INDEX_DIR

    # pass 2 — pseudonymize (tripsu: `tripsu pseudo -x idx -r rules -s secret in.nt`)
    python jobs/tripsu_cli.py pseudo INPUT.nt -x INDEX -r rules.yaml \
        [-s SECRET_FILE] [--algorithm sha256|blake3] -o OUT_DIR

Reference-parity surfaces:
- ``-x`` accepts EITHER a parquet index dir (written by ``index``) OR a
  ``type_index.json`` written by the reference binary itself (io.rs:58-63)
  — the JSON's u64 keys are reproduced with SipHash-1-3
  (functions/siphash13.py), so an existing tripsu index is reusable as-is.
- input ``-`` reads N-Triples from stdin (io.rs:24-30: the reference
  defaults to stdin and is designed for `curl | tripsu` piping). Spark
  cannot scan a pipe, so stdin is spooled to a temp file first — a
  driver-side bottleneck by nature; documented trade-off, piping is a
  single-node workflow anyway.
- ``-o -`` streams the serialized N-Triples to stdout (io.rs:31-37),
  again via a temp spool dir.

Differences from the reference, by design (SURVEY.md):
- the native index is a parquet table, not JSON (the JSON bytes were
  never a contract — the u64 keys are a Rust hasher artifact, §1.4);
- output .nt part files are unordered (distributed write); the
  reference's output order is a single-thread artifact and triple
  semantics are set-based (``-o -`` and --single-file keep a total
  file, still unordered);
- IRIs with no '#'/'/' separator hash with an empty prefix instead of
  panicking (crypto.rs:51 divergence, documented);
- malformed input lines go to OUT_DIR/_quarantine instead of
  panicking, and are counted on stderr. In ``-o -`` mode there is no
  surviving OUT_DIR, so the malformed lines themselves are emitted on
  stderr (prefixed ``quarantine:``) rather than into the temp spool.

Efficiency contract (round-1 verdict item 4): each subcommand runs the
parse pipeline EXACTLY ONCE — the parsed frame is persisted, row counts
come from ``DataFrame.observe`` metrics on the write action itself, and
the quarantine count is served from the cache.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tripsu_spark.crypto import Pseudonymizer
from tripsu_spark.operators.index import build_type_index
from tripsu_spark.plans.pipeline import pseudonymize
from tripsu_spark.rules import Rules
from tripsu_spark.session import get_submit_spark
from tripsu_spark.sources.ntriples import parse_ntriples_lines, write_ntriples


def _read_input(spark: SparkSession, path: str) -> tuple[DataFrame, str | None]:
    """``-`` -> spool stdin to a temp file Spark can scan; else read the
    file/dir directly. Returns (lines, spool_dir_to_cleanup)."""
    if path != "-":
        return spark.read.text(path), None
    spool = tempfile.mkdtemp(prefix="tripsu-stdin-")
    target = Path(spool) / "stdin.nt"
    with open(target, "w", encoding="utf-8") as out:
        shutil.copyfileobj(sys.stdin, out)
    return spark.read.text(str(target)), spool


def _emit_output(out_dir: str, stdout_mode: bool) -> None:
    """``-o -``: stream every written part file to stdout, then drop the
    spool dir."""
    if not stdout_mode:
        return
    for part in sorted(Path(out_dir, "data").glob("part-*")):
        with open(part, encoding="utf-8") as fh:
            shutil.copyfileobj(fh, sys.stdout)
    sys.stdout.flush()


def cmd_index(args) -> int:
    spark = get_submit_spark("tripsu-index")
    spark.sparkContext.setLogLevel("ERROR")
    lines, spool = _read_input(spark, args.input)
    parsed = parse_ntriples_lines(lines)
    triples = parsed.filter(F.col("_error").isNull()).drop("_error")
    index_df = build_type_index(triples)
    if args.output == "-" or args.output.endswith(".json"):
        # reference-format JSON (io.rs:58-63): `tripsu index in.nt > idx.json`
        # parity — the emitted file is consumable by the reference binary.
        from tripsu_spark.sources.type_index_json import dump_type_index_json

        payload = dump_type_index_json(index_df)
        if args.output == "-":
            sys.stdout.write(payload + "\n")
        else:
            Path(args.output).write_text(payload + "\n", encoding="utf-8")
        print("type index (JSON) ->", args.output, file=sys.stderr)
    else:
        obs = Observation("index_rows")
        indexed = index_df.observe(obs, F.count(F.lit(1)).alias("n"))
        indexed.write.mode("overwrite").parquet(args.output)
        print(f"type index: {obs.get['n']} subjects -> {args.output}", file=sys.stderr)
    spark.stop()
    if spool:
        shutil.rmtree(spool, ignore_errors=True)
    return 0


def cmd_pseudo(args) -> int:
    spark = get_submit_spark("tripsu-pseudo")
    spark.sparkContext.setLogLevel("ERROR")
    rules = Rules.load(args.rules)
    secret = Path(args.secret).read_bytes() if args.secret else None
    hasher = Pseudonymizer.create(args.algorithm, secret)

    stdout_mode = args.output == "-"
    out_dir = tempfile.mkdtemp(prefix="tripsu-stdout-") if stdout_mode else args.output

    lines, spool = _read_input(spark, args.input)
    # ONE parse of the input feeds quarantine + (optional) index build +
    # masking + rewrite; everything downstream reads the cache.
    parsed = parse_ntriples_lines(lines).persist(StorageLevel.MEMORY_AND_DISK)
    triples = parsed.filter(F.col("_error").isNull()).drop("_error")

    key_fn = None
    if args.index and args.index.endswith(".json"):
        from tripsu_spark.sources.type_index_json import load_type_index_json, rust_hash_key

        index_df = load_type_index_json(spark, args.index)
        key_fn = rust_hash_key
    elif args.index:
        index_df = spark.read.parquet(args.index)
    else:
        index_df = build_type_index(triples)

    obs = Observation("out_rows")
    out = pseudonymize(triples, index_df, rules, hasher, key_fn=key_fn).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    write_ntriples(out, out_dir + "/data", single_file=args.single_file or stdout_mode)
    n_out = obs.get["n"]

    # quarantine: served from the persisted parse, no recompute
    bad = parsed.filter(F.col("_error").isNotNull())
    n_bad = bad.count()
    if n_bad:
        if stdout_mode:
            # -o -: out_dir is a temp spool that gets deleted after the
            # stream, so a file quarantine would be silently discarded —
            # emit the malformed lines to stderr instead (stdout carries
            # only clean triples, so piping stays composable).
            for row in bad.select("_error").toLocalIterator():
                print(f"quarantine: {row['_error']}", file=sys.stderr)
        else:
            bad.select("_error").write.mode("overwrite").text(out_dir + "/_quarantine")
        print(f"quarantined {n_bad} malformed lines", file=sys.stderr)
    parsed.unpersist()

    print(f"wrote {n_out} triples -> {out_dir}/data", file=sys.stderr)
    spark.stop()
    _emit_output(out_dir, stdout_mode)
    if stdout_mode:
        shutil.rmtree(out_dir, ignore_errors=True)
    if spool:
        shutil.rmtree(spool, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="tripsu-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_idx = sub.add_parser("index", help="pass 1: build the rdf:type index")
    p_idx.add_argument("input", help=".nt file or directory, or - for stdin")
    p_idx.add_argument("-o", "--output", required=True, help="index parquet dir")

    p_ps = sub.add_parser("pseudo", help="pass 2: rule-driven pseudonymization")
    p_ps.add_argument(
        "input", help=".nt file or directory, or - for stdin"
    )
    p_ps.add_argument(
        "-x",
        "--index",
        help="index: parquet dir (from `index`) or a reference-written "
        "type_index.json; built on the fly if omitted",
    )
    p_ps.add_argument("-r", "--rules", required=True, help="rules YAML")
    p_ps.add_argument("-s", "--secret", help=">=32-byte secret file (random key if omitted)")
    p_ps.add_argument("--algorithm", default="sha256", choices=["sha256", "blake3"])
    p_ps.add_argument("--single-file", action="store_true", help="coalesce output to one part")
    p_ps.add_argument("-o", "--output", required=True, help="output dir, or - for stdout")

    args = ap.parse_args()
    return cmd_index(args) if args.cmd == "index" else cmd_pseudo(args)


if __name__ == "__main__":
    raise SystemExit(main())
