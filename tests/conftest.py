import sys

import pytest

sys.path.insert(0, "/root/repo")

FIXTURES = "/root/reference/src/test/resources"  # read-only reference fixtures


@pytest.fixture(scope="session")
def spark():
    from disq_spark.session import get_session

    s = get_session("disq_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES


@pytest.fixture(scope="session")
def generated_vcf(spark, tmp_path_factory):
    """A self-contained coordinate-sorted BGZF VCF of 3000 sites on two
    contigs (random INFO padding spreads it over several BGZF blocks),
    written by ``write_vcf(write_tbi=True)`` from 6 partitions. Returns
    ``(path, [(contig, pos), ...])`` in file order."""
    import random

    from disq_spark.headers import VcfHeader
    from disq_spark.schemas import VARIANTS_SCHEMA
    from disq_spark.sinks.variants import write_vcf

    rng = random.Random(7)
    header = VcfHeader.from_lines(
        [
            "##fileformat=VCFv4.2",
            "##contig=<ID=1,length=5000000>",
            "##contig=<ID=2,length=5000000>",
            '##INFO=<ID=X,Number=1,Type=String,Description="padding">',
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
        ]
    )
    rows = []
    for contig in ("1", "2"):
        for pos in sorted(rng.sample(range(1, 5_000_000), 1500)):
            pad = "%x" % rng.getrandbits(4 * rng.randrange(8, 120))
            rows.append((contig, pos, pos, None, "A", ["C"], 50.0, [], {"X": pad}, None))
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 6), VARIANTS_SCHEMA)
    path = str(tmp_path_factory.mktemp("generated_vcf") / "sites.vcf.bgz")
    write_vcf(df, header, path, write_tbi=True)
    return path, [(r[0], r[1]) for r in rows]
