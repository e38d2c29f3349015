"""Monthly lançamentos CSV generator and its pure-Python expectation.

``write_batches`` writes one Brazilian-locale CSV per monthly upload; each
upload after the first also re-sends the previous month. The rows carry
what the reference's upload contract meets in practice: accents, descriptions with quoted commas,
``"1.234,56"``-style and negative values, about 2% rows with a blank or
whitespace-only field (quarantined by validation) and about 2% duplicate
rows (exact copies, and copies whose key fields differ only in case and
surrounding spaces, which hash to the same ``id_hash``).

``Expectation`` replays the star loader's semantics with nothing but the
standard library: validation, the reference's MD5 row identity,
insert-if-absent on every table, and an exact ``Decimal`` sum of ``valor``.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

HEADER = ["Descrição", "Tipo", "Grupo", "Categoria", "Classificação", "Data", "Valor"]

# Tipo -> Grupo -> Categorias. "Casa" sits under two tipos and "Serviços"
# under two grupos, so the composite dim keys matter.
HIERARCHY = {
    "Despesa": {
        "Casa": ["Aluguel", "Energia", "Água", "Manutenção", "Serviços"],
        "Alimentação": ["Supermercado", "Restaurante", "Padaria", "Feira"],
        "Transporte": ["Combustível", "Ônibus", "Aplicativo", "Seguro"],
        "Saúde": ["Farmácia", "Consulta", "Plano de saúde"],
        "Lazer": ["Cinema", "Viagem", "Assinaturas"],
    },
    "Receita": {
        "Trabalho": ["Salário", "Bônus", "Férias", "13º"],
        "Casa": ["Aluguel recebido", "Reembolso"],
        "Extras": ["Freelance", "Venda", "Serviços"],
    },
    "Investimento": {
        "Renda fixa": ["CDB", "Tesouro", "LCI"],
        "Renda variável": ["Ações", "FII", "ETF"],
    },
}
CLASSIFICACOES = ["Fixa", "Variável", "Extra", "Eventual", "Essencial", "Supérflua"]
DESC_WORDS = [
    "pagamento", "compra", "conta", "mensalidade", "parcela", "transferência",
    "pix", "boleto", "cartão", "débito", "crédito", "loja", "mercado", "posto",
    "farmácia", "São Paulo", "João", "conceição", "ação", "açaí",
]


def brl(cents: int) -> str:
    """Integer cents -> Brazilian money text: -123456 -> '-1.234,56'."""
    sign = "-" if cents < 0 else ""
    units, frac = divmod(abs(cents), 100)
    return f"{sign}{units:,}".replace(",", ".") + f",{frac:02d}"


def parse_brl(text: str) -> Decimal:
    return Decimal(text.replace(".", "").replace(",", "."))


def _row(rng: random.Random, year: int, month: int) -> list[str]:
    tipo = rng.choice(list(HIERARCHY))
    grupo = rng.choice(list(HIERARCHY[tipo]))
    categoria = rng.choice(HIERARCHY[tipo][grupo])
    words = rng.sample(DESC_WORDS, rng.randint(1, 3))
    desc = " ".join(words).capitalize() + f" {rng.randint(1, 9999)}"
    if rng.random() < 0.2:
        desc += f", parcela {rng.randint(1, 12)}/12"
    scale = rng.choice([100, 10_000, 1_000_000, 50_000_000])
    cents = rng.randint(1, scale)
    if tipo == "Despesa" or rng.random() < 0.05:
        cents = -cents
    return [desc, tipo, grupo, categoria, rng.choice(CLASSIFICACOES),
            f"{month:02d}/{year}", brl(cents)]


def _variant(rng: random.Random, row: list[str]) -> list[str]:
    """Same id_hash, different bytes: case and surrounding spaces on the
    lower(trim()) key fields (Tipo, Grupo, Categoria, Descrição)."""
    out = list(row)
    i = rng.choice([0, 1, 2, 3])
    out[i] = f"  {out[i].upper()} " if rng.random() < 0.5 else out[i].lower()
    return out


def month_rows(seed: int, index: int, n_rows: int) -> list[list[str]]:
    """Rows of the ``index``-th monthly upload (months from 01/2023)."""
    rng = random.Random(f"{seed}:{index}")
    year, month = 2023 + index // 12, index % 12 + 1
    rows: list[list[str]] = []
    while len(rows) < n_rows:
        r = rng.random()
        if rows and r < 0.01:
            rows.append(list(rng.choice(rows)))
        elif rows and r < 0.02:
            rows.append(_variant(rng, rng.choice(rows)))
        else:
            row = _row(rng, year, month)
            if r > 0.98:
                row[rng.randrange(len(row))] = rng.choice(["", " ", "   "])
            rows.append(row)
    return rows


def write_batches(out_dir: str, seed: int, months: int, rows_per_month: int) -> list[str]:
    """CSV paths in upload order. Upload 0 is month 0; upload i (i >= 1)
    carries month i followed by a re-send of month i-1, so every later
    upload both grows the warehouse and must land none of its re-sent rows."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(months):
        path = os.path.join(out_dir, f"lancamentos_{i:02d}.csv")
        rows = month_rows(seed, i, rows_per_month)
        if i:
            rows += month_rows(seed, i - 1, rows_per_month)
        with open(path, "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(HEADER)
            w.writerows(rows)
        paths.append(path)
    return paths


def read_rows(path: str) -> list[list[str]]:
    with open(path, encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f))
    return rows[1:]


def row_hash(row: list[str]) -> str:
    """The reference's id_hash: md5 of lower(strip()) Tipo, Grupo,
    Categoria, strip() Data, lower(strip()) Descrição and raw Valor."""
    desc, tipo, grupo, cat, _cls, data, valor = row
    parts = [tipo.strip().lower(), grupo.strip().lower(), cat.strip().lower(),
             data.strip(), desc.strip().lower(), valor]
    return hashlib.md5("-".join(parts).encode("utf-8")).hexdigest()


@dataclass
class Expectation:
    """Warehouse contents after each upload, computed without Spark."""

    tipos: set = field(default_factory=set)
    grupos: set = field(default_factory=set)
    categorias: set = field(default_factory=set)
    classificacoes: set = field(default_factory=set)
    tempos: set = field(default_factory=set)
    facts: dict = field(default_factory=dict)
    uploaded: int = 0

    def load(self, rows: list[list[str]]) -> int:
        """Apply one upload; returns the number of fact rows it adds."""
        before = len(self.facts)
        self.uploaded += len(rows)
        for row in rows:
            if any(not v.strip() for v in row):
                continue  # quarantined
            desc, tipo, grupo, cat, cls, data, valor = row
            self.tipos.add(tipo)
            self.grupos.add((tipo, grupo))
            self.categorias.add((tipo, grupo, cat))
            self.classificacoes.add(cls)
            month, year = data.split("/")
            self.tempos.add((int(year), int(month)))
            self.facts.setdefault(row_hash(row), parse_brl(valor))
        return len(self.facts) - before

    def counts(self) -> dict[str, int]:
        return {
            "dim_tempo": len(self.tempos),
            "dim_tipo": len(self.tipos),
            "dim_grupo": len(self.grupos),
            "dim_categoria": len(self.categorias),
            "dim_classificacao": len(self.classificacoes),
            "fato_lancamento": len(self.facts),
        }

    def valor_sum(self) -> Decimal:
        return sum(self.facts.values(), Decimal("0.00"))
