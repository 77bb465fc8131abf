"""FEBRL-style dirty-PII fixture loading (reference:
tests/testdata/dirty_1000_50_{1,2}.csv + docs/tutorial_api.ipynb cells
12-35).

The tutorial's linkage schema shape: strings as bigrams, integers as
positional unigrams, l=1024, missing-value sentinels on the integer
fields; rec_id / soc_sec_id / age / phone_number / blocking_number are
not hashed. We use 100 bits/feature (the tutorial's 300 x 9 features
saturates a 1024-bit CLK at fill ~0.9 — see tests/test_febrl_two_party
for the measurement); quality on the dirty fixture at threshold 0.8:
precision 1.000 / recall 1.000 against the 500 shared rec_ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.schema import Schema, from_json_dict

__all__ = ["FEBRL_TESTDATA", "FEBRL_FEATURES", "febrl_schema",
           "load_febrl_party"]

# Overridable so the fixture isn't pinned to this machine's checkout:
# point CLKHASH_SPARK_FEBRL_DIR at any directory holding the FEBRL
# dirty_1000_50_{1,2}.csv files.
FEBRL_TESTDATA = os.environ.get(
    "CLKHASH_SPARK_FEBRL_DIR", "/root/reference/tests/testdata"
)

_STRING_FIELDS = ("given_name", "surname", "address_1", "address_2",
                  "suburb", "state")
# tutorial field order
FEBRL_FEATURES = ("given_name", "surname", "street_number", "address_1",
                  "address_2", "suburb", "postcode", "state",
                  "date_of_birth")


def febrl_schema(bits_per_feature: int = 100) -> Schema:
    def string_feature(name: str) -> dict:
        return {
            "identifier": name,
            "format": {"type": "string", "encoding": "utf-8"},
            "hashing": {
                "comparison": {"type": "ngram", "n": 2},
                "strategy": {"bitsPerFeature": bits_per_feature},
                "hash": {"type": "doubleHash"},
            },
        }

    def integer_feature(name: str) -> dict:
        return {
            "identifier": name,
            "format": {"type": "string", "encoding": "utf-8"},
            "hashing": {
                "comparison": {"type": "ngram", "n": 1, "positional": True},
                "strategy": {"bitsPerFeature": bits_per_feature},
                "hash": {"type": "doubleHash"},
                "missingValue": {"sentinel": ""},
            },
        }

    features = [
        string_feature(f) if f in _STRING_FIELDS else integer_feature(f)
        for f in FEBRL_FEATURES
    ]
    return from_json_dict(
        {
            "version": 3,
            "clkConfig": {
                "l": 1024,
                "kdf": {"type": "HKDF", "hash": "SHA256", "keySize": 64},
            },
            "features": features,
        }
    )


def load_febrl_party(
    spark: SparkSession, path: str, prefix: str
) -> DataFrame:
    """Read one dirty CSV: trim every feature (the fixture pads fields
    with leading spaces), coalesce nulls to '' so the missing-value
    sentinel applies, prefix rec_id so keys are distinct across
    parties. A missing file raises ``FileNotFoundError`` naming
    ``CLKHASH_SPARK_FEBRL_DIR`` before Spark reads anything."""
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"FEBRL fixture {path!r} not found: point "
            "CLKHASH_SPARK_FEBRL_DIR at a directory holding "
            "dirty_1000_50_{1,2}.csv"
        )
    df = spark.read.csv(path, header=True)
    cols = [
        F.trim(F.coalesce(F.col(c), F.lit(""))).alias(c)
        for c in FEBRL_FEATURES
    ]
    return df.select(
        F.concat(F.lit(prefix), F.trim(F.col("rec_id"))).alias("key"),
        *cols,
    )
