"""Seeded mailing-job inputs in the reference's `;`-separated CSV shape.

Three files land in one input directory, named so the job's discovery
globs find them:

- ``MAILING_NUCLEO_<date>.csv`` — the mailing extract: BR decimals
  (``1.234,56``), day-first dates, and about 15% unnamed duplicate rows
  for the prefer-named CPF dedup;
- ``Pontuacao_fones.csv`` — scored phones keyed by document;
- ``Tabulacoes_retirar.csv`` — dialer dispositions, some CPFs with
  enough critical statuses to be removed by the threshold anti-join.

Pure Python and single-process: the same seed gives byte-identical files.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, replace
from pathlib import Path

# Energisa product codes of the reference's robot groups, then synthetic
# ones for the wide fan-out.
_REAL_PRODUCTS = ("EPB", "EMR", "ESS", "ESE", "ETO", "ERO", "EMT", "EMS", "EAC")
_CITIES = ("NAT", "CGR", "JPA", "CBA", "PVH", "AJU", "PMW", "RBR", "CPV", "MOS")
_SITS = ("LIGADO", "DESLIGADO", "CORTADO")
_FAIXAS = ("Até 30", "Até 90", "Até 180", "Até 360", "Acima 360")
_BLOCKED = ("BLOQUEADO JUDICIAL", "LIGAÇÃO INDEVIDA")
BLOCKLIST = ["bloqueado judicial", "ligação indevida"]
CRITICAL = ("CLIENTE FALECIDO", "NAO PERTENCE A UC")
_BENIGN = ("PROMESSA DE PAGAMENTO", "NAO ATENDE", "CAIXA POSTAL")
_FIRST = ("Ana", "Bia", "Caio", "Davi", "Eva", "Gil", "Iara", "Joao", "Lia", "Rui")
_LAST = ("Silva", "Souza", "Lima", "Costa", "Rocha", "Alves", "Nunes", "Pires")

MAILING_COLUMNS = (
    "empresa", "ucv", "nomecad", "ndoc", "ncpf", "ano", "mes", "liquido",
    "loc", "sit", "faixa", "iu12m", "valor", "bloq", "dtvenc", "codbarra",
)
MAILING_FILE = "MAILING_NUCLEO_20261016.csv"
ENRICHMENT_FILE = "Pontuacao_fones.csv"
REGRAS_FILE = "Tabulacoes_retirar.csv"
UNNAMED_DUP_SHARE = 0.15


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    cpfs: int
    products: int
    slots: int
    corte: float
    counted_report: bool

    def product_codes(self) -> list[str]:
        extra = [f"E{i:02d}" for i in range(self.products - len(_REAL_PRODUCTS))]
        return (list(_REAL_PRODUCTS) + extra)[: self.products]

    def slot_groups(self) -> dict[str, list[str]]:
        """Every product lands in exactly one slot, so the slot files
        together hold the whole robot output."""
        codes = self.product_codes()
        return {
            f"{8 + s:02d}HRS": codes[s :: self.slots] for s in range(self.slots)
        }

    def scaled(self, factor: float) -> "Workload":
        """Same shape at another size (the harness smoke test)."""
        return replace(
            self, rows=max(40, int(self.rows * factor)), cpfs=max(12, int(self.cpfs * factor))
        )


def _money(rng: random.Random, mu: float) -> str:
    """A BR-formatted amount: thousands dot, decimal comma."""
    cents = int(round(rng.lognormvariate(mu, 1.0) * 100))
    whole, frac = divmod(cents, 100)
    return f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(2023, 2026)}"


def generate(w: Workload, seed: int, out_dir: Path) -> int:
    """Write the three input files for ``w`` under ``out_dir``; return
    the number of mailing rows written."""
    rng = random.Random(f"{w.name}:{seed}")
    out_dir.mkdir(parents=True, exist_ok=True)
    products = w.product_codes()
    cpf_base = rng.randrange(10**9, 9 * 10**9)
    cpfs = [str(cpf_base + 7 * i).zfill(11) for i in range(w.cpfs)]
    cpf_product = [rng.choice(products) for _ in cpfs]
    dup_rows = max(1, w.rows - w.cpfs)
    p_unnamed = min(1.0, UNNAMED_DUP_SHARE * w.rows / dup_rows)

    lines = [";".join(MAILING_COLUMNS)]
    for i in range(w.rows):
        # The first pass covers every CPF once (named); later rows are
        # duplicates of a random CPF, a share of them unnamed.
        c = i if i < w.cpfs else rng.randrange(w.cpfs)
        named = i < w.cpfs or rng.random() >= p_unnamed
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}" if named else ""
        bloq = rng.choice(_BLOCKED) if rng.random() < 0.06 else ""
        lines.append(";".join((
            cpf_product[c], f"U{i:09d}", name, f"D{cpfs[c]}", cpfs[c],
            str(rng.randint(2023, 2026)), str(rng.randint(1, 12)),
            _money(rng, 5.0), rng.choice(_CITIES), rng.choice(_SITS),
            rng.choice(_FAIXAS), rng.choice(("SIM", "NÃO")),
            _money(rng, 5.5), bloq, _date(rng),
            "".join(str(rng.randrange(10)) for _ in range(20)),
        )))
    (out_dir / MAILING_FILE).write_text("\n".join(lines) + "\n", encoding="utf-8")

    phones = ["documento;telefone;pontuacao"]
    tabs = ["idcliente;status"]
    for cpf in cpfs:
        if rng.random() < 0.7:
            # Distinct scores per document: the best-first phone order
            # has no ties, so the output files are deterministic.
            for score in rng.sample(range(1, 10), rng.randint(1, 3)):
                phones.append(f"D{cpf};849{rng.randrange(10**8):08d};{score}")
        r = rng.random()
        if r < 0.03:  # removed: critical statuses at or over the threshold
            tabs += [f"{cpf};{rng.choice(CRITICAL)}"] * rng.randint(3, 4)
        elif r < 0.10:  # kept: under the threshold, or benign
            tabs.append(f"{cpf};{rng.choice(CRITICAL + _BENIGN)}")
    (out_dir / ENRICHMENT_FILE).write_text("\n".join(phones) + "\n", encoding="utf-8")
    (out_dir / REGRAS_FILE).write_text("\n".join(tabs) + "\n", encoding="utf-8")
    return w.rows
