from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from datawarehouse_code_spark.session import get_spark

    s = get_spark("tests", cpus="8")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def seeded_raster(seed: int, shift: int = 0, flip_bits: int = 0) -> bytes:
    """9x8 PGM whose dHash row bits are the deterministic row bytes
    ((seed*8 + r)*37 mod 256), the media-dedup test construction.
    `flip_bits` flips the low bits of row 0 (hamming = flip_bits
    against the unflipped frame); `shift` raises every pixel by the
    same amount, a brightness change dHash does not see."""
    from datawarehouse_code_spark.operators.multimodal import (
        dhash_raster,
        encode_gray_pgm,
    )

    row_bytes = [((seed * 8 + r) * 37) % 256 for r in range(8)]
    row_bytes[0] ^= (1 << flip_bits) - 1
    pixels = bytes(v + shift for v in dhash_raster(row_bytes))
    return encode_gray_pgm(9, 8, pixels)
