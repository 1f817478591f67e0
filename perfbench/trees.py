"""Seeded input tree and host ceilings.

The same seed always gives the same tree and the same rewritten byte.
The tree is written with plain file I/O before Spark starts, and the
driver's peak-RSS counter is reset before the timed ops, so generation
cannot raise ``driver_rss_peak_mb``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np

_MIB = 1 << 20

#: hash_large_files: one file split across every core plus four smaller
#: ones (256 MiB + 4 x 64 MiB at an 8M blocksize is 64 chunks), and the
#: reference's edge cases: an empty file, an empty directory, a name
#: with a space and a non-ASCII name.
LARGE_FILES = [
    ("big.bin", 256 * _MIB),
    ("empty.txt", 0),
    ("parts/part-0.bin", 64 * _MIB),
    ("parts/part-1.bin", 64 * _MIB),
    ("parts/with space.bin", 64 * _MIB),
    ("parts/naïve-ü.bin", 64 * _MIB),
]
EMPTY_DIR = "empty dir"
LARGE_BLOCKSIZE = "8M"
#: The file the incremental check rewrites.
CHURN_FILE = "parts/part-0.bin"


def write_large_tree(root: str, seed: int) -> int:
    """Write the large-file tree; returns its content bytes."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(root, EMPTY_DIR))
    for name, size in LARGE_FILES:
        path = os.path.join(root, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            for off in range(0, size, 8 * _MIB):
                fh.write(rng.bytes(min(8 * _MIB, size - off)))
            # Flush now so that write-back does not compete with the
            # timed ops.
            fh.flush()
            os.fsync(fh.fileno())
    return sum(size for _, size in LARGE_FILES)


def flip_byte(root: str, rel: str, seed: int) -> None:
    """Invert one seed-chosen byte of ``rel`` in place."""
    path = os.path.join(root, rel)
    offset = int(np.random.default_rng([seed, 2]).integers(0, os.path.getsize(path)))
    with open(path, "r+b") as fh:
        fh.seek(offset)
        b = fh.read(1)
        fh.seek(offset)
        fh.write(bytes([b[0] ^ 0xFF]))


def tree_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def read_gbps(root: str) -> float:
    """Single-process read rate over every file of ``root`` (warm page
    cache: the tree was just written and hashed by the oracle)."""
    buf = bytearray(8 * _MIB)
    total = 0
    t0 = time.perf_counter()
    for path in tree_files(root):
        with open(path, "rb", buffering=0) as fh:
            while n := fh.readinto(buf):
                total += n
    return total / (time.perf_counter() - t0) / 1e9


_SHA256_ROUNDS = 4

#: One ceiling process: digest ``argv[1]`` bytes ``argv[2]`` times once
#: told to start, and print the start and end of that span.  Plain
#: pipes synchronise the processes (no shared-memory semaphores).
_SHA256_CHILD = """
import hashlib, sys, time
buf = b"\\x5a" * int(sys.argv[1])  # sha256's rate does not depend on the bytes
hashlib.sha256(buf).digest()
print("ready", flush=True)
sys.stdin.readline()
t0 = time.perf_counter()
for _ in range(int(sys.argv[2])):
    hashlib.sha256(buf).digest()
print(t0, time.perf_counter(), flush=True)
"""


def sha256_gbps(procs: int, nbytes: int = 32 * _MIB) -> float:
    """Aggregate sha256 rate of ``procs`` concurrent processes, each
    hashing ``nbytes`` :data:`_SHA256_ROUNDS` times from a common start."""
    cmd = [sys.executable, "-c", _SHA256_CHILD, str(nbytes), str(_SHA256_ROUNDS)]
    children = [
        subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    try:
        for c in children:
            c.stdout.readline()
        for c in children:
            c.stdin.write("go\n")
            c.stdin.flush()
        spans = [tuple(map(float, c.stdout.readline().split())) for c in children]
    finally:
        for c in children:
            c.stdin.close()
            c.wait(timeout=60)
    elapsed = max(e for _, e in spans) - min(s for s, _ in spans)
    return procs * nbytes * _SHA256_ROUNDS / elapsed / 1e9
