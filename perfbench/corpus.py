"""Seeded zip corpus for the zip workloads, built with stdlib ``zipfile`` only.

The same seed and spec give byte-identical archives. Alongside the archives
the generator writes ``manifest.json``: one (archive, member, size, sha256)
row per member of every good archive, plus the list of planted bad
(truncated) archives. Bodies are slices of one seeded text pool or seeded
random bytes, so generation costs little beyond deflate itself.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import os
import random
import shutil
import zipfile
from dataclasses import asdict, dataclass

_DATE = (2020, 1, 1, 0, 0, 0)
KEEP = 3  # corpora kept in the cache
_WORDS = (
    "zip parquet spark arrow member archive row group snappy inflate deflate "
    "hash central directory batch channel thread partition stage task shuffle "
    "driver executor column binary string schema footer offset record stream"
).split()


@dataclass(frozen=True)
class Spec:
    small_archives: int = 8
    small_members: int = 240  # per small archive
    small_size_bits: int = 17  # small member sizes are log-spaced over [0, 2**bits)
    big_members: tuple = (1 << 20, 3 << 20, 12 << 20)  # one each, fixed sizes
    jumbo_members: int = 65_536 + 1_464  # above ZipMembersReader.split_members
    jumbo_max_bytes: int = 48
    incompressible: float = 0.30
    stored: float = 0.25
    bad_archives: int = 3
    deflate_level: int = 1
    layout: int = 4  # bump when the generator changes, so cached corpora are rebuilt

    def key(self) -> str:
        return hashlib.sha256(json.dumps(asdict(self)).encode()).hexdigest()[:12]


def _pool(rng: random.Random, n: int) -> bytes:
    words = rng.choices(_WORDS, k=n // 6)
    text = " ".join(words).encode()
    return (text * (n // len(text) + 1))[:n]


def _kinds(rng: random.Random, n: int, share: float) -> list[bool]:
    """Exactly round(n * share) True values in seeded order."""
    k = round(n * share)
    flags = [True] * k + [False] * (n - k)
    rng.shuffle(flags)
    return flags


def _add(zf, name: str, body: bytes, stored: bool, rows, arc: str) -> None:
    zi = zipfile.ZipInfo(name, date_time=_DATE)
    zi.compress_type = zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
    zf.writestr(zi, body)
    rows.append((arc, name, len(body), hashlib.sha256(body).hexdigest()))


def _text(rng: random.Random, pool: bytes, size: int) -> bytes:
    if size <= len(pool):
        off = rng.randrange(len(pool) - size + 1)
        return pool[off : off + size]
    return (pool * (size // len(pool) + 1))[:size]


_EXTS = ("txt", "csv", "json", "bin", "png")


@contextlib.contextmanager
def _archive(path: str, level: int, keep: float = 1.0):
    """A ZipFile built in memory (cheap seeks), written to ``path`` on exit;
    ``keep`` < 1 writes only that leading share of its bytes."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compresslevel=level) as zf:
        yield zf
    data = buf.getvalue()
    with open(path, "wb") as f:
        f.write(data[: int(len(data) * keep)])


def _write(path: str, seed: int, spec: Spec) -> dict:
    rng = random.Random(seed)
    pool = _pool(rng, 1 << 20)
    os.makedirs(path)
    rows: list[tuple] = []
    # Sizes, compressibility and method are fixed multisets that the seed
    # only shuffles, so every seed carries the same amount of work.
    n = spec.small_archives * spec.small_members
    bits = spec.small_size_bits
    sizes = [int(2 ** (bits * (i + 0.5) / n)) - 1 for i in range(n)]
    rng.shuffle(sizes)
    noise = _kinds(rng, n, spec.incompressible)
    stored = _kinds(rng, n, spec.stored)
    exts = [_EXTS[i % len(_EXTS)] for i in range(n)]
    rng.shuffle(exts)
    i = 0
    for a in range(spec.small_archives):
        arc = f"small_{a:03d}.zip"
        with _archive(os.path.join(path, arc), spec.deflate_level) as zf:
            for m in range(spec.small_members):
                size = sizes[i]
                body = rng.randbytes(size) if noise[i] else _text(rng, pool, size)
                name = f"d{m % 7}/m{m:04d}.{exts[i]}"
                _add(zf, name, body, stored[i], rows, arc)
                i += 1
            if a < len(spec.big_members):
                # Big members: the first is incompressible and stored, the
                # rest are deflated text.
                size = spec.big_members[a]
                body = rng.randbytes(size) if a == 0 else _text(rng, pool, size)
                _add(zf, f"big/blob{a}.txt", body, a == 0, rows, arc)
    arc = "jumbo.zip"
    with _archive(os.path.join(path, arc), spec.deflate_level) as zf:
        for m in range(spec.jumbo_members):
            size = rng.randrange(spec.jumbo_max_bytes + 1)
            off = rng.randrange(len(pool) - size)
            zi = zipfile.ZipInfo(f"j{m // 1000:03d}/e{m:06d}.txt", date_time=_DATE)
            body = pool[off : off + size]
            zf.writestr(zi, body)
            rows.append((arc, zi.filename, size, hashlib.sha256(body).hexdigest()))
    bad = []
    for b in range(spec.bad_archives):
        # A good archive cut short: the end-of-central-directory record is
        # gone, so opening it fails and on_error='skip' drops the archive.
        arc = f"bad_{b:02d}.zip"
        with _archive(os.path.join(path, arc), spec.deflate_level, keep=(b + 1) / (spec.bad_archives + 2)) as zf:
            for m in range(20):
                zf.writestr(zipfile.ZipInfo(f"x/{m}.txt", date_time=_DATE), _text(rng, pool, 4096))
        bad.append(arc)
    manifest = {"seed": seed, "spec": asdict(spec), "members": rows, "bad": bad}
    with open(os.path.join(path, "manifest.json"), "w") as f:
        f.write(json.dumps(manifest))
    return manifest


def build(cache_dir: str, seed: int, spec: Spec = Spec()) -> tuple[str, dict]:
    """Return (corpus dir, manifest), generating it once per (seed, spec)."""
    path = os.path.join(cache_dir, f"corpus-{seed}-{spec.key()}")
    done = os.path.join(path, "manifest.json")
    if os.path.exists(done):
        os.utime(path)
        with open(done) as f:
            return path, json.load(f)
    # Keep the cache small: drop all but the most recently used corpora.
    old = sorted(glob.glob(os.path.join(cache_dir, "corpus-*")), key=os.path.getmtime)
    for stale in old[:-KEEP]:
        shutil.rmtree(stale, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted build
    manifest = _write(tmp, seed, spec)
    os.replace(tmp, path)
    return path, manifest
