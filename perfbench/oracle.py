"""Independent single-process oracle for the v1 directory hash.

Written from the format description (FIXTURES.md F1-F3), not from the
engine: nothing here imports ``dirhash_spark``, so an engine change that
alters the digest cannot also alter what the benchmark expects.

Format:
  chunk digest  H(utf8(path) || NUL || ascii(block_num) || NUL || chunk)
                over fixed ``blocksize`` chunks; an empty file has none.
  listing       every entry's path relative to the root, directories
                with a trailing '/', the root itself excluded.
  fold          H(ascii(len(listing)) || NUL || NUL.join(sorted listing)
                || NUL || chunk digests in (path, block_num) order).
  hash string   v1-<algo>-<blocksize string>-<hex of the fold>.
"""

from __future__ import annotations

import hashlib
import os

#: FIXTURES.md F3: sha256 of chunk 0 of ``dir/subdir3/abc.txt`` (content
#: ``abc``).
GOLDEN_ABC_CHUNK = "b4f567d6c89cd9998bf08292ba1f04190b2213236d5691b2a24a6adcef1dc663"

_SUFFIX = {"": 1, "k": 1 << 10, "K": 1 << 10, "M": 1 << 20, "G": 1 << 30}


def blocksize_bytes(blocksize: str) -> int:
    """``'8M'`` -> 8388608."""
    suffix = blocksize[-1] if blocksize[-1] in _SUFFIX else ""
    return int(blocksize[: len(blocksize) - len(suffix)]) * _SUFFIX[suffix]


def chunk_digest(algo: str, path: str, block_num: int, chunk: bytes) -> bytes:
    h = hashlib.new(algo)
    h.update(path.encode("utf-8") + b"\0" + str(block_num).encode("ascii") + b"\0")
    h.update(chunk)
    return h.digest()


def file_digests(algo: str, path: str, full_path: str, blocksize: int) -> list[bytes]:
    """Chunk digests of one file, in block order."""
    out = []
    with open(full_path, "rb") as fh:
        while chunk := fh.read(blocksize):
            out.append(chunk_digest(algo, path, len(out), chunk))
    return out


def listing(root: str) -> list[tuple[str, bool]]:
    """(relative path, is_dir) for every entry under ``root``."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        prefix = "" if rel == "." else rel + "/"
        out += [(prefix + d + "/", True) for d in dirnames]
        out += [(prefix + f, False) for f in filenames]
    return out


def fold(algo: str, paths: list[str], digests: dict[str, list[bytes]]) -> str:
    """Hex fold over the listing ``paths`` and per-file chunk digests."""
    ordered = sorted(paths)
    h = hashlib.new(algo)
    h.update(str(len(ordered)).encode("ascii") + b"\0")
    h.update("\0".join(ordered).encode("utf-8") + b"\0")
    for p in ordered:
        for d in digests.get(p, ()):
            h.update(d)
    return h.hexdigest()


class TreeOracle:
    """Expected v1 hash of one tree, kept current as files change.

    ``refresh(paths)`` re-digests only the named files, so a benchmark
    that rewrites 1% of a tree pays 1% of the hashing to know the new
    expected value."""

    def __init__(self, root: str, algo: str, blocksize: str):
        self.root, self.algo, self.blocksize = root, algo, blocksize
        self._bs = blocksize_bytes(blocksize)
        entries = listing(root)
        self.paths = [p for p, _ in entries]
        self.digests: dict[str, list[bytes]] = {}
        self.refresh([p for p, is_dir in entries if not is_dir])

    def refresh(self, files) -> None:
        for p in files:
            self.digests[p] = file_digests(
                self.algo, p, os.path.join(self.root, p), self._bs
            )

    def expected(self) -> str:
        return f"v1-{self.algo}-{self.blocksize}-{fold(self.algo, self.paths, self.digests)}"


def matches_golden() -> bool:
    """The oracle's chunk framing reproduces the F3 golden digest."""
    return chunk_digest("sha256", "dir/subdir3/abc.txt", 0, b"abc").hex() == GOLDEN_ABC_CHUNK
