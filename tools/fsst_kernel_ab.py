"""Interleaved A/B of the FSST encoder, `fsst.encode` (table build included).

Loads `parquet_spark/codecs/fsst.py` of two checkouts of this repo into one
process and times `encode` on each corpus, alternating the checkouts and
the first side of each pair, so both sides sample the same stretch of host
load. Every pair also checks that both checkouts wrote the same bytes.

Corpora:
- `documents_split`: the text bytes of the first of the 4 scan splits of
  perfbench's flat_roundtrip documents table at seed 1 (2,250 docs);
- `seq_ids` and `text_full` of tests/test_fsst_golden.py;
- 700 KB each of random bytes, a 2-letter alphabet and sequential ids.

Appends one JSON line per corpus with both sides' per-pair seconds,
their medians and the median per-pair ratio change / parent.

Usage:
  python tools/fsst_kernel_ab.py <parent_repo> <change_repo> [--pairs 15] [--out plans/r07/fsst_kernel_ab.jsonl]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KB700 = 700 * 1024


def _load(repo: str, tag: str):
    path = os.path.join(repo, "parquet_spark", "codecs", "fsst.py")
    spec = importlib.util.spec_from_file_location(f"fsst_{tag}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _documents_split() -> bytes:
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import SIZES, prepare_flat

    with tempfile.TemporaryDirectory() as work:
        inp = prepare_flat(work, 1, SIZES)
        text = pq.read_table(inp.tables[1].path, columns=["text"]).column("text").combine_chunks()
    split = text.slice(0, SIZES["documents"] // 4)
    off = np.frombuffer(split.buffers()[1], np.int32, len(split) + 1, split.offset * 4)
    return split.buffers()[2].to_pybytes()[off[0] : off[-1]]


def corpora() -> dict[str, bytes]:
    sys.path.insert(0, ROOT)
    from tests.test_fsst_golden import CORPORA

    rng = np.random.default_rng(0)
    ids = b"".join(b"%d," % i for i in range(10_000_000, 10_100_000))
    return {
        "documents_split": _documents_split(),
        "seq_ids": CORPORA["seq_ids"],
        "text_full": CORPORA["text_full"],
        "random_700k": rng.integers(0, 256, KB700, dtype=np.uint8).tobytes(),
        "alphabet_2_700k": (97 + rng.integers(0, 2, KB700, dtype=np.uint8)).tobytes(),
        "seq_ids_700k": ids[:KB700],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=15)
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r07", "fsst_kernel_ab.jsonl"))
    args = ap.parse_args()
    sides = {"parent": _load(args.parent, "parent"), "change": _load(args.change, "change")}
    with open(args.out, "a") as out:
        for name, raw in corpora().items():
            data = np.frombuffer(raw, np.uint8)
            times: dict[str, list[float]] = {"parent": [], "change": []}
            for side in sides.values():  # warm-up
                side.encode(data)
            for pair in range(args.pairs):
                bufs = {}
                for tag in ("parent", "change") if pair % 2 == 0 else ("change", "parent"):
                    t0 = time.perf_counter()
                    bufs[tag] = sides[tag].encode(data)
                    times[tag].append(time.perf_counter() - t0)
                if bufs["parent"] != bufs["change"]:
                    raise SystemExit(f"{name}: the checkouts wrote different bytes")
            rec = {
                "corpus": name,
                "bytes": len(raw),
                "enc_bytes": len(bufs["change"]),
                "cpu": os.cpu_count(),
                "pairs": args.pairs,
                "parent_s": times["parent"],
                "change_s": times["change"],
                "parent_median_s": statistics.median(times["parent"]),
                "change_median_s": statistics.median(times["change"]),
                "median_ratio": statistics.median(c / p for p, c in zip(times["parent"], times["change"])),
            }
            out.write(json.dumps(rec) + "\n")
            print(f"{name:16s} {len(raw):8d} B  parent {rec['parent_median_s'] * 1e3:7.1f} ms  "
                  f"change {rec['change_median_s'] * 1e3:7.1f} ms  ratio {rec['median_ratio']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
