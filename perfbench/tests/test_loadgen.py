"""Tests for the monthly CSV generator and its pure-Python expectation.

    python3 -m pytest perfbench/tests -q

The last test loads three small generated uploads (each after the first
re-sends the previous month) through the star pipeline on a local Spark
session and checks the warehouse against the expectation after each one,
as the benchmark does.
"""

from __future__ import annotations

import sys
from decimal import Decimal
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE.parents[1]))

from loadgen import Expectation, brl, month_rows, parse_brl, read_rows, row_hash, write_batches  # noqa: E402


def test_brl_round_trip():
    for cents, text in [(123456, "1.234,56"), (-1250, "-12,50"), (99, "0,99"),
                        (100000000, "1.000.000,00"), (0, "0,00")]:
        assert brl(cents) == text
        assert parse_brl(text) == Decimal(cents) / 100


def test_generator_is_deterministic_per_seed():
    assert month_rows(7, 0, 300) == month_rows(7, 0, 300)
    assert month_rows(7, 0, 300) != month_rows(8, 0, 300)
    assert month_rows(7, 0, 300) != month_rows(7, 1, 300)


def test_generated_rows_carry_the_edge_cases():
    rows = month_rows(1, 0, 5000)
    blank = [r for r in rows if any(not v.strip() for v in r)]
    assert 0.01 < len(blank) / len(rows) < 0.04
    keys = [row_hash(r) for r in rows if r not in blank]
    dup_share = 1 - len(set(keys)) / len(keys)
    assert 0.01 < dup_share < 0.04
    assert any("," in r[0] for r in rows)  # quoted commas in Descrição
    assert any(r[6].startswith("-") for r in rows)
    assert any("." in r[6] for r in rows)  # thousands separators
    assert any(c in "".join(r[3] for r in rows) for c in "áçãêô")
    assert {r[5] for r in rows if r not in blank} == {"01/2023"}


def test_written_csv_reads_back(tmp_path):
    paths = write_batches(str(tmp_path), seed=3, months=3, rows_per_month=200)
    assert len(paths) == 3
    assert read_rows(paths[0]) == month_rows(3, 0, 200)
    assert read_rows(paths[2]) == month_rows(3, 2, 200) + month_rows(3, 1, 200)
    assert Path(paths[0]).read_text(encoding="utf-8").startswith(
        "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor")


def test_expectation_on_hand_made_rows():
    rows = [
        ["Aluguel, casa", "Despesa", "Casa", "Aluguel", "Fixa", "01/2024", "-1.500,00"],
        ["Mercado", "Despesa", "Casa", "Supermercado", "Variável", "01/2024", "-823,45"],
        ["Salário", "Receita", "Trabalho", "CLT", "Fixa", "02/2024", "7.000,00"],
        ["  MERCADO ", "Despesa", "casa", "Supermercado", "Fixa", "01/2024", "-823,45"],
        ["Luz", "Despesa", "Casa", "Energia", " ", "02/2024", "-210,33"],
    ]
    exp = Expectation()
    assert exp.load(rows) == 3  # row 4 hashes like row 2; row 5 is blank
    assert exp.counts() == {
        "dim_tempo": 2, "dim_tipo": 2, "dim_grupo": 3, "dim_categoria": 4,
        "dim_classificacao": 2, "fato_lancamento": 3,
    }
    assert exp.valor_sum() == Decimal("4676.55")
    assert exp.load(rows) == 0  # a re-upload lands nothing
    assert exp.uploaded == 10


def test_row_hash_is_the_reference_md5():
    import hashlib

    row = [" Aluguel, Casa ", "Despesa", " Casa", "Aluguel", "Fixa", "01/2024", "1.500,00"]
    want = hashlib.md5("despesa-casa-aluguel-01/2024-aluguel, casa-1.500,00".encode()).hexdigest()
    assert row_hash(row) == want


def test_star_pipeline_matches_expectation(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    from etl_lorettoscarpa_1asfb2jf21_spark.plans import star
    from etl_lorettoscarpa_1asfb2jf21_spark.session import get_spark

    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    paths = write_batches(str(tmp_path / "csv"), seed=5, months=3, rows_per_month=300)
    gold, current, exp = str(tmp_path / "gold"), None, Expectation()
    for i, path in enumerate(paths):
        # the re-sent previous month lands nothing
        assert exp.load(read_rows(path)) == Expectation().load(month_rows(5, i, 300))
        staging, _ = star.ingest_lancamentos(spark, path)
        star.publish_warehouse(star.run_etl(staging, current), gold)
        current = star.read_warehouse(spark, gold)
        assert current.counts() == exp.counts()
        total = current.fato_lancamento.agg(F.sum("valor")).collect()[0][0]
        assert total == exp.valor_sum()
        spark.catalog.clearCache()
