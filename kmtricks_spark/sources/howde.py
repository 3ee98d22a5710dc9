"""HowDe-style Bloom filter container sink (S7).

The reference writes one standalone Bloom-filter file per sample by
concatenating that sample's per-partition hash windows behind a
`bffileheader` (howde_utils.hpp:56-122: magic, version, k, num bits,
single BF component). `export_filters` streams those files straight from
the `bloom` slices table. Two container formats:

* KMBF (default): a compact self-defined little-endian header followed
  by the raw bit vector — the engine's own artifact.
* howdesbt: the reference's bffileheader fields, assignment for
  assignment (howde_utils.hpp:64-82): single uncompressed vector,
  numBytes = bits/8 + 8 for the leading 8-byte size word the reference
  emits before the windows (howde_utils.hpp:148). howdesbt's numeric
  magic constants are not vendored in the reference repo, so
  HOWDE_MAGIC/HOWDE_MAGIC_UN below are defaults: set them to the
  constants of an external howdesbt build for bit-exact interop. The
  exporter and the readers look them up at call time.

Both formats are written in two phases, the reference's crash-
consistency trick: the header stamped with the UNFINISHED magic first,
then the data, then the finished header at offset 0. A writer killed
mid-way leaves the UNFINISHED magic, which every reader refuses.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np

MAGIC = b"KMBF0001"
MAGIC_UN = b"KMBF!UNF"  # placeholder magic while a write is in flight
VERSION = 1
_KMBF_FMT = "<IQQQQ"  # version, k, num bits, P << 32 | window words, n_set

# --- howdesbt bffileheader parameters (howde_utils.hpp:56-86) ---------
# layout: magic u64 | headerSize u32 | version u32 | bfKind u32 |
# smerSize u32 | numHashes u32 | pad4 | hashSeed1 u64 | hashSeed2 u64 |
# hashModulus u64 | numBits u64 | numVectors u32 | setSizeKnown u32 |
# setSize u64 | info[0]{compressor u32, name u32, offset u64,
# numBytes u64, filterInfo u64}  => 112 bytes, already 16-aligned
_HOWDE_FMT = "<QIIIII4xQQQQIIQIIQQQ"
HOWDE_HEADER_SIZE = struct.calcsize(_HOWDE_FMT)  # round_up_16(112) == 112
HOWDE_MAGIC = int.from_bytes(b"HOWDESBF", "little")      # parameterized:
HOWDE_MAGIC_UN = int.from_bytes(b"HOWDESUN", "little")   # see module doc
HOWDE_VERSION = 2
HOWDE_BFKIND_SIMPLE = 1
HOWDE_BVCOMP_UNCOMPRESSED = 0


@dataclass(frozen=True)
class BFHeader:
    k: int
    num_bits: int
    nb_partitions: int
    window_bits: int
    n_set: int


def _kmbf_header(magic: bytes, cfg, n_set: int) -> bytes:
    return magic + struct.pack(
        _KMBF_FMT,
        VERSION,
        cfg.k,
        cfg.total_bloom_bits,
        (cfg.nb_partitions << 32) | cfg.window_bits // 64,
        n_set,
    )


def _howde_header(magic: int, cfg, n_set: int) -> bytes:
    """The bffileheader for one uncompressed vector, mirroring
    howde_utils.hpp:64-82 assignment-for-assignment, followed by the
    sdsl-style size word that precedes the bits. The reference leaves
    the set size unknown, so n_set is not stored."""
    num_bits = cfg.total_bloom_bits
    return struct.pack(
        _HOWDE_FMT,
        magic,                       # header->magic
        HOWDE_HEADER_SIZE,           # header->headerSize = round_up_16(...)
        HOWDE_VERSION,               # header->version
        HOWDE_BFKIND_SIMPLE,         # header->bfKind
        cfg.k,                       # header->smerSize
        1,                           # header->numHashes
        0,                           # header->hashSeed1
        0,                           # header->hashSeed2
        num_bits,                    # header->hashModulus = bloom size
        num_bits,                    # header->numBits
        1,                           # header->numVectors
        0,                           # header->setSizeKnown = false
        0,                           # header->setSize
        HOWDE_BVCOMP_UNCOMPRESSED,   # info[0].compressor
        0,                           # info[0].name
        HOWDE_HEADER_SIZE,           # info[0].offset = bytes written so far
        num_bits // 8 + 8,           # info[0].numBytes (+8: size word)
        0,                           # info[0].filterInfo
    ) + struct.pack("<Q", num_bits)


def read_bf_file_howdesbt(path: str) -> tuple[BFHeader, np.ndarray]:
    """Raises ValueError (never bare AssertionError, which `python -O`
    strips) on unfinished, truncated, foreign, or inconsistent files."""
    with open(path, "rb") as f:
        raw = f.read(HOWDE_HEADER_SIZE)
        if len(raw) < HOWDE_HEADER_SIZE:
            raise ValueError(
                f"{path}: truncated howdesbt BF ({len(raw)} < {HOWDE_HEADER_SIZE} header bytes)"
            )
        fields = struct.unpack(_HOWDE_FMT, raw)
        got_magic = fields[0]
        if got_magic == HOWDE_MAGIC_UN:
            raise ValueError(f"{path}: unfinished howdesbt BF (writer died mid-write)")
        if got_magic != HOWDE_MAGIC:
            raise ValueError(f"{path}: bad howdesbt magic {got_magic:#x}")
        k, num_bits, num_bytes = fields[4], fields[9], fields[16]
        if num_bytes != num_bits // 8 + 8:
            raise ValueError(
                f"{path}: inconsistent header (numBytes {num_bytes} != bits/8+8)"
            )
        word = f.read(8)
        if len(word) < 8:
            raise ValueError(f"{path}: truncated before the size word")
        (size_word,) = struct.unpack("<Q", word)
        if size_word != num_bits:
            raise ValueError(f"{path}: size word {size_word} != numBits {num_bits}")
        data = f.read(num_bits // 8)
        if len(data) < num_bits // 8:
            raise ValueError(f"{path}: truncated bit vector ({len(data)} bytes)")
        bits = np.frombuffer(data, dtype=np.uint8)
    # partition layout is not part of the howdesbt header (the file is one
    # flat vector); nb_partitions/window_bits come back zeroed
    return BFHeader(k, num_bits, 0, 0, -1), bits


def read_bf_file(path: str) -> tuple[BFHeader, np.ndarray]:
    """Raises ValueError (not bare asserts, which `python -O` strips) on
    unfinished, truncated, or foreign files."""
    with open(path, "rb") as f:
        magic = f.read(8)
        if magic == MAGIC_UN:
            raise ValueError(f"{path}: unfinished KMBF file (writer died mid-write)")
        if magic != MAGIC:
            raise ValueError(f"{path}: bad magic {magic!r}")
        hdr = f.read(36)
        if len(hdr) < 36:
            raise ValueError(f"{path}: truncated KMBF header")
        version, k, num_bits, packed, n_set = struct.unpack(_KMBF_FMT, hdr)
        if version != VERSION:
            raise ValueError(f"{path}: unsupported KMBF version {version}")
        nb_partitions = packed >> 32
        window_bits = (packed & 0xFFFFFFFF) * 64
        data = f.read(num_bits // 8)
        if len(data) < num_bits // 8:
            raise ValueError(f"{path}: truncated bit vector ({len(data)} bytes)")
        bits = np.frombuffer(data, dtype=np.uint8)
    return BFHeader(k, num_bits, nb_partitions, window_bits, n_set), bits


def export_filters(slices_df, out_dir: str, cfg, bf_format: str = "kmbf") -> list[str]:
    """One standalone BF file per sample, streamed from the slices table
    (part_id, sample_id, n_set, bitmap): the sample's filter is the
    ordered concat of its partition windows, zero-filled for absent
    partitions — the reference's per-file concat (howde_utils.hpp:
    133-185). Slices arrive ordered by (sample_id, part_id) through
    toLocalIterator, so the driver holds one window at a time and a
    filter may exceed the JVM's 2 GB single-value limit (e.g. 2^34 bits
    per sample). Returns the file paths."""
    if bf_format not in ("kmbf", "howdesbt"):
        raise ValueError(f"bf_format must be kmbf|howdesbt, got {bf_format!r}")
    if bf_format == "kmbf":
        ext, header, magic, magic_un = "kmbf", _kmbf_header, MAGIC, MAGIC_UN
    else:
        ext, header, magic, magic_un = "bf", _howde_header, HOWDE_MAGIC, HOWDE_MAGIC_UN
    os.makedirs(out_dir, exist_ok=True)
    P, zero = cfg.nb_partitions, bytes(cfg.window_bytes)
    paths: list[str] = []
    f = None  # the open file of the current sample
    try:
        for row in (
            slices_df.select("sample_id", "part_id", "n_set", "bitmap")
            .orderBy("sample_id", "part_id")
            .toLocalIterator()
        ):
            if f is None or row["sample_id"] != sample:
                if f is not None:
                    _finish(f, zero, P - next_part, header(magic, cfg, n_set))
                sample, next_part, n_set = row["sample_id"], 0, 0
                paths.append(os.path.join(out_dir, f"{sample}.{ext}"))
                f = open(paths[-1], "wb")
                f.write(header(magic_un, cfg, 0))
            for _ in range(next_part, row["part_id"]):  # gap zero windows
                f.write(zero)
            f.write(bytes(row["bitmap"]))
            next_part, n_set = row["part_id"] + 1, n_set + int(row["n_set"])
        if f is not None:
            _finish(f, zero, P - next_part, header(magic, cfg, n_set))
    finally:
        if f is not None:  # a crash mid-file leaves the UNFINISHED magic
            f.close()      # for readers to refuse
    return paths


def _finish(f, zero: bytes, trailing: int, finished_header: bytes) -> None:
    """Write a file's trailing zero windows and its finished header, and
    close it."""
    for _ in range(trailing):
        f.write(zero)
    f.seek(0)
    f.write(finished_header)
    f.close()
