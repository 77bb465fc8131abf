"""CSV source, stats, randomnames generator, two-party linkage e2e
(mirrors /root/reference/tests/test_e2e_hashing.py:104-127 and the
header-checking suite in test_clk.py:178-311)."""

import os

import pytest
from pyspark.sql import functions as F

from clkhash_spark.core import from_json_dict
from clkhash_spark.operators.encode import encode_clks
from clkhash_spark.operators.stats import (
    observed_encode,
    popcount_histogram,
    popcount_stats,
)
from clkhash_spark.sources.csv import (
    FormatError,
    read_linkage_csv,
    validity_errors,
)
from clkhash_spark.sources.febrl import load_febrl_party
from clkhash_spark.sources.randomnames import (
    RANDOMNAMES_SCHEMA_DICT,
    generate_overlapping_subsets,
    random_persons,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def names_schema():
    return from_json_dict(RANDOMNAMES_SCHEMA_DICT)


class TestCsvSource:
    def _write(self, tmp_path, content, name="data.csv"):
        path = os.path.join(tmp_path, name)
        with open(path, "w") as fp:
            fp.write(content)
        return path

    def test_valid_header(self, spark, tmp_path, names_schema):
        path = self._write(
            tmp_path,
            "INDEX,NAME freetext,DOB YYYY/MM/DD,GENDER M or F\n"
            "0,Jane Austen,1775/12/16,F\n"
            "1,Bob Hawke,1929/12/09,M\n",
        )
        df = read_linkage_csv(spark, path, names_schema, header=True)
        assert df.count() == 2
        assert df.columns == [
            "INDEX", "NAME freetext", "DOB YYYY/MM/DD", "GENDER M or F"
        ]

    def test_wrong_header_name_rejected(self, spark, tmp_path, names_schema):
        path = self._write(
            tmp_path,
            "INDEX,WRONG,DOB YYYY/MM/DD,GENDER M or F\n0,J,1999/01/01,F\n",
        )
        with pytest.raises(FormatError):
            read_linkage_csv(spark, path, names_schema, header=True)

    def test_wrong_column_count_rejected(self, spark, tmp_path, names_schema):
        path = self._write(
            tmp_path, "INDEX,NAME freetext,DOB YYYY/MM/DD\n0,J,1999/01/01\n"
        )
        with pytest.raises(FormatError):
            read_linkage_csv(spark, path, names_schema, header=True)

    def test_ignore_header(self, spark, tmp_path, names_schema):
        path = self._write(
            tmp_path, "junk,junk,junk,junk\n0,Jane,1999/01/01,F\n"
        )
        df = read_linkage_csv(spark, path, names_schema, header="ignore")
        assert df.count() == 1

    def test_validity_errors(self, spark, tmp_path, names_schema):
        path = self._write(
            tmp_path,
            "INDEX,NAME freetext,DOB YYYY/MM/DD,GENDER M or F\n"
            "0,Jane Austen,1775/12/16,F\n"
            "1,Bob Hawke,not-a-date,M\n"
            "2,Al,1950/01/01,X\n",
        )
        df = read_linkage_csv(spark, path, names_schema, header=True)
        errors = validity_errors(df, names_schema)
        text = "\n".join(errors)
        assert "not-a-date" in text
        # 'Al' violates minLength 3; 'X' violates the enum.
        assert "'Al'" in text or "'X'" in text
        # With key_col, each error names the offending row's key (the
        # distributed stand-in for the reference EntryError row index).
        keyed = validity_errors(df, names_schema, key_col="INDEX")
        keyed_text = "\n".join(keyed)
        assert "not-a-date" in keyed_text and "key='1'" in keyed_text


class TestFebrlSource:
    def test_missing_fixture_names_the_env_var(self, tmp_path):
        # Raised before any Spark read, so no session is needed.
        missing = os.path.join(tmp_path, "dirty_1000_50_1.csv")
        with pytest.raises(FileNotFoundError,
                           match="CLKHASH_SPARK_FEBRL_DIR"):
            load_febrl_party(None, missing, "a:")


class TestRandomNames:
    def test_deterministic(self, spark):
        a = random_persons(spark, 50).collect()
        b = random_persons(spark, 50).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_shape_and_values(self, spark):
        rows = random_persons(spark, 100).collect()
        assert len(rows) == 100
        for row in rows[:10]:
            assert row["GENDER M or F"] in ("M", "F")
            year, month, day = row["DOB YYYY/MM/DD"].split("/")
            assert 1924 <= int(year) <= 2006
            assert len(row["NAME freetext"].split(" ")) == 2

    def test_80_percent_overlap_produces_identical_clks(
        self, spark, names_schema
    ):
        """≥80 of 100 records encode to byte-identical CLKs across the two
        parties (semantics of the reference's e2e overlap test)."""
        persons = random_persons(spark, 200).cache()
        party_a, party_b = generate_overlapping_subsets(persons, 100, 0.8)
        feature_cols = [f.identifier for f in names_schema.fields]
        clks_a = encode_clks(
            party_a, names_schema, "secret", key_cols=("INDEX",),
            feature_cols=feature_cols,
        )
        clks_b = encode_clks(
            party_b, names_schema, "secret", key_cols=("INDEX",),
            feature_cols=feature_cols,
        )
        identical = clks_a.alias("a").join(
            clks_b.alias("b"), on="clk", how="inner"
        ).count()
        assert identical >= 80

    def test_different_secrets_give_disjoint_clks(self, spark, names_schema):
        persons = random_persons(spark, 50)
        feature_cols = [f.identifier for f in names_schema.fields]
        clks_1 = encode_clks(
            persons, names_schema, "secret-one", key_cols=("INDEX",),
            feature_cols=feature_cols,
        )
        clks_2 = encode_clks(
            persons, names_schema, "secret-two", key_cols=("INDEX",),
            feature_cols=feature_cols,
        )
        assert clks_1.join(clks_2, on="clk", how="inner").count() == 0


class TestStats:
    @pytest.fixture(scope="class")
    def clks(self, spark, names_schema):
        persons = random_persons(spark, 300)
        feature_cols = [f.identifier for f in names_schema.fields]
        return encode_clks(
            persons, names_schema, "s", key_cols=("INDEX",),
            feature_cols=feature_cols,
        ).cache()

    def test_popcount_stats(self, clks):
        stats = popcount_stats(clks)
        assert stats["n"] == 300
        assert 0 < stats["mean"] < 1024
        assert stats["std"] > 0
        assert stats["min"] <= stats["mean"] <= stats["max"]

    def test_popcount_histogram_covers_all_rows(self, clks):
        hist = popcount_histogram(clks).collect()
        assert sum(r["n"] for r in hist) == 300

    def test_observe_rides_the_action(self, clks):
        observed, observation = observed_encode(clks)
        observed.write.format("noop").mode("overwrite").save()
        got = observation.get
        assert got["rows"] == 300
        assert got["popcount_mean"] > 0


class TestTwoPartyLinkage:
    def test_febrl_style_linkage_f1(self, spark, names_schema):
        """Two parties, 80%% overlap, exact-duplicate records: the matched
        pairs must recover the overlap (reference tutorial flow,
        docs/tutorial_api.ipynb cells 24-35)."""
        from pyspark.sql import functions as F

        from clkhash_spark.pipeline import (
            LinkageConfig,
            run_linkage_two_party,
        )
        from clkhash_spark.sources.randomnames import (
            generate_overlapping_subsets,
            random_persons,
        )

        persons = random_persons(spark, 400).cache()
        party_a, party_b = generate_overlapping_subsets(persons, 200, 0.8)
        # Distinct keys per party; ground truth recoverable from INDEX.
        a = party_a.withColumn(
            "key", F.concat(F.lit("A:"), F.col("INDEX"))
        )
        b = party_b.withColumn(
            "key", F.concat(F.lit("B:"), F.col("INDEX"))
        )
        feature_cols = [f.identifier for f in names_schema.fields]
        config = LinkageConfig(
            schema=names_schema, secret="two-party", key_col="key",
            feature_cols=feature_cols, threshold=0.95,
            num_bands=64, bits_per_band=16,
        )
        result = run_linkage_two_party(spark, a, b, config)
        matched = result.pairs.select(
            F.regexp_replace("key_a", "^[AB]:", "").alias("idx_a"),
            F.regexp_replace("key_b", "^[AB]:", "").alias("idx_b"),
        )
        tp = matched.where(F.col("idx_a") == F.col("idx_b")).count()
        total = matched.count()
        overlap = 160  # 80% of 200
        precision = tp / total if total else 0.0
        recall = tp / overlap
        assert precision >= 0.99, (tp, total)
        assert recall >= 0.99, (tp, overlap)
