"""Seeded input generator for the benchmark (runs in its own process).

    python3 benchmark/gen.py --workload <name> --seed <n> --out <dir>

Writes every input of one workload under ``<dir>`` and the planted truth
the run is verified against to ``<dir>/truth.json``. The same seed gives
byte-identical inputs. Nothing here imports Spark or the program: the
truth is computed from the generator's own model of the data, so a
wrong program output cannot leak into its own reference.
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (one pass of each workload works on exactly these) -----------

#: nightly, EP1: rows of the newest CSV per (layer, entity); older dated
#: snapshots are smaller so picking the wrong file fails verification
ETL_ROWS = {"creditos": 1500, "radicados": 2500}
ETL_OLD_ROWS = (300, 200)
ETL_DATES = ("20240105", "20240112", "20240119")  # oldest → newest
ETL_RUN_DATE = dt.date(2024, 2, 1)

#: nightly, EP2: published rows and the shape of the day's 1% delta
MERGE_BASE_ROWS = 20000
MERGE_UPDATES, MERGE_INSERTS = 140, 60
MERGE_LOOKUP_POOL = 240
MERGE_AUDIT_COLS = ["estado", "tasa", "fecha_giro"]

#: corpus_dedup: documents, planted near-duplicate clusters, exact copies.
#: At 400 documents a pass was almost all per-job overhead, and its time
#: swung with CPU steal far more than the steal itself; at 2000, MinHash
#: signing is about a third of a pass
DEDUP_DOCS = 2000
DEDUP_CLUSTERS = 30
DEDUP_EXACT_COPIES = 20
DEDUP_WORDS = (70, 90)
DEDUP_VOCAB = 6000
DEDUP_SHINGLE = 3
DEDUP_THRESHOLD = 0.8
DEDUP_NUM_HASHES, DEDUP_BANDS = 16, 8


# --- nightly, EP1 --------------------------------------------------------

CREDITOS_HEADER = [
    "Crédito", "Dias Mora Actual", "Plazo", "CuotasPagas", "NúmeroVez",
    "EstadoCrédito", "Monto", "Saldo", "Monto Aprobado", "ValorCuota",
    "TasaInterés", "FechaSolicitud", "FechaIngreso", "FechaGiro",
    "FechaInicio", "FechaLegalización", "Fecha Acta Aprobación",
    "VencimientoCuota", "CódigoLínea", "Línea", "Categoría",
    "CategoríaDeudor", "Nombre Deudor", "DirecciónResidencia",
    "DirecciónCorrespondencia", "E Mail", "IdentificaciónDeudor",
    "Municipio Residencia", "Departamento Residencia", "ActaAprobación",
    "Destino", "Estado", "FormaPago", "FormaPago", "Indice Color",
    "LíneaCrédito", "NombreCategoría", "Observaciones", "Pagaduría",
    "Periodicidad", "Periodicidad", "Tipo70 / 30",
]
RADICADOS_HEADER = [
    "Radicado", "Fecha Radicacion", "Procedencia", "Detalle", "Naturaleza",
    "Medio", "Expediente", "Opciones", "Destino", "Rpta",
]
#: working-group codes the radicados transform maps (plus one it does not)
GROUP_CODES = [
    "TL", "DDB", "GCIG", "GGAFCC", "SDE", "GGC", "GGEC", "GGTHDO", "DGC",
    "GER", "GBRCD", "GTICS", "GCMAIS", "OPL", "GSAGD", "GGF", "GAJ", "GGA",
    "SDBV", "GAUEGI", "OAD",
]
UNKNOWN_CODE = "XQZ"
NAMES = ["María", "José", "Ángela", "Núñez", "Peña", "Gómez", "Ibáñez",
         "Cárdenas", "Rocío", "Andrés", "Sofía", "Martínez", "López"]
TOWNS = ["Bogotá", "Medellín", "Cúcuta", "Ibagué", "Popayán", "Montería"]
JUNK_DATES = ["", "N/A", "pendiente", "sin fecha"]


def _render_date(rng: random.Random, d: dt.date) -> str:
    """A valid date in one of the reference's dirty spellings."""
    sep = rng.choice("/-.")
    s = f"{d.day:02d}{sep}{d.month:02d}{sep}{d.year:04d}"
    r = rng.random()
    if r < 0.25:
        s += f" {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"
    elif r < 0.35:
        s = f" {s} "
    return s


def _maybe_date(rng, d: dt.date, junk_p: float):
    """(rendered string, parsed truth) — junk parses to None."""
    if rng.random() < junk_p:
        return rng.choice(JUNK_DATES), None
    return _render_date(rng, d), d


def _name(rng) -> str:
    return f"{rng.choice(NAMES)} {rng.choice(NAMES)}"


def _creditos_rows(rng, n: int, id_base: int, truth: dict | None):
    """Dirty creditos rows; accumulates exact checksums into ``truth``."""
    rows = []
    for i in range(n):
        solicitud = dt.date(2019, 1, 1) + dt.timedelta(days=rng.randint(0, 1500))
        s_sol, p_sol = _maybe_date(rng, solicitud, 0.03)
        s_giro, p_giro = _maybe_date(
            rng, solicitud + dt.timedelta(days=rng.randint(0, 90)), 0.30
        )
        s_ini, p_ini = _maybe_date(
            rng, solicitud + dt.timedelta(days=rng.randint(0, 120)), 0.10
        )
        s_leg, p_leg = _maybe_date(
            rng, solicitud + dt.timedelta(days=rng.randint(0, 60)), 0.10
        )
        other_dates = [
            _maybe_date(rng, solicitud + dt.timedelta(days=rng.randint(-30, 400)), 0.1)[0]
            for _ in range(3)
        ]
        monto_cents = rng.randint(100_000, 9_000_000_000)
        monto = f"{monto_cents // 100},{monto_cents % 100:02d}"
        tasa_raw = rng.randint(500_000, 2_500_000)
        tasa = rng.choice([f"{tasa_raw} %", f"{tasa_raw}%", f" {tasa_raw} %"])
        tasa_null = rng.random() < 0.05
        if tasa_null:
            tasa = rng.choice(["", "n/d"])
        addr = f"Calle {rng.randint(1, 200)} # {rng.randint(1, 99)}-{rng.randint(1, 99)}"
        if rng.random() < 0.3:
            addr += f"\nApto {rng.randint(101, 1504)}; Torre {rng.randint(1, 9)}, int. 2"
        obs = "" if rng.random() < 0.4 else rng.choice(
            ["al día", "mora leve", "reestructurado", "revisar; pagaduría"]
        )
        email = "" if rng.random() < 0.1 else f"u{id_base + i}@correo.gov.co"
        cid = str(id_base + i)
        rows.append([
            cid, str(rng.randint(0, 90)) if rng.random() > 0.1 else "",
            str(rng.choice([12, 24, 36, 48, 60])), str(rng.randint(0, 60)),
            str(rng.randint(1, 4)),
            rng.choice(["Terminado", "Rechazado", "Activo", "Anulado", "Solicitud"]),
            monto, f"{rng.randint(0, 90_000_000)},{rng.randint(0, 99):02d}",
            f"{rng.randint(100_000, 90_000_000)},00", str(rng.randint(10_000, 3_000_000)),
            tasa, s_sol, other_dates[0], s_giro, s_ini, s_leg, other_dates[1],
            other_dates[2], f"L{rng.randint(1, 40):03d}",
            rng.choice(["Vivienda", "Educación", "Libre inversión"]),
            rng.choice(["A", "B", "C"]), rng.choice(["FU", "PEN"]), _name(rng),
            addr, addr if rng.random() < 0.5 else "", email,
            str(rng.randint(10_000_000, 1_100_000_000)), rng.choice(TOWNS),
            rng.choice(["Cundinamarca", "Antioquia", "Tolima"]),
            f"ACTA-{rng.randint(1, 999)}", rng.choice(["Compra", "Mejora", "Estudio"]),
            rng.choice(["Vigente", "Cerrado"]), rng.choice(["Nómina", "Caja"]),
            rng.choice(["Nómina", "Caja"]), rng.choice(["Verde", "Ámbar", "Rojo"]),
            f"LC{rng.randint(1, 20)}", rng.choice(["Afiliado", "Pensionado"]), obs,
            rng.choice(["Ministerio", "Policía", "Ejército"]),
            rng.choice(["Mensual", "Quincenal"]), rng.choice(["Mensual", "Quincenal"]),
            rng.choice(["", "1", "0"]),
        ])
        if truth is None:
            continue
        truth["monto_cents"] += monto_cents
        truth["tasa_nulls"] += tasa_null
        for key, end in (("giro", p_giro), ("inicio", p_ini), ("legalizacion", p_leg)):
            if p_sol is None or end is None:
                truth[f"{key}_nulls"] += 1
            else:
                truth[f"{key}_sum"] += (end - p_sol).days
        if p_giro is None and p_sol is not None:
            truth["espera_sum"] += (ETL_RUN_DATE - p_sol).days
        else:
            truth["espera_nulls"] += 1
        truth["obs_nulls"] += obs == ""
        truth["email_nulls"] += email == ""
    return rows


def _radicados_rows(rng, n: int, id_base: int, truth: dict | None):
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.7:
            code = rng.choice(GROUP_CODES)
            destino = f"Profesional {rng.randint(1, 3)}-{code}-{_name(rng)}"
        elif r < 0.8:
            code = UNKNOWN_CODE
            destino = f"Asesor-{code}-{_name(rng)}"
        else:
            code = "GAUEGI"  # bare name → the transform's default group
            destino = _name(rng)
        fecha = dt.datetime(2023, 1, 1) + dt.timedelta(minutes=rng.randint(0, 600_000))
        fecha_ok = rng.random() > 0.05
        s_fecha = fecha.strftime("%d/%m/%Y %H:%M") if fecha_ok else rng.choice(JUNK_DATES)
        rpta = rng.choice(["0", "1", "1", ""])
        rid = id_base + i
        rows.append([
            str(rid), s_fecha, _name(rng),
            rng.choice(["Solicitud de crédito", "Queja", "Derecho de petición"]),
            rng.choice(["Interna", "Externa"]), rng.choice(["Correo", "Ventanilla", "Web"]),
            f"EXP-{rng.randint(1, 5000)}", "" if rng.random() < 0.5 else "Urgente",
            destino, rpta,
        ])
        if truth is None:
            continue
        truth["grupo_nulls"] += code == UNKNOWN_CODE
        truth["gauegi"] += code == "GAUEGI"
        truth["fecha_nulls"] += not fecha_ok
        truth["rpta_nulls"] += rpta == ""
        truth["radicado_sum"] += rid
    return rows


def _write_csv(path: str, header: list[str], rows: list[list[str]], junk: bool) -> None:
    with open(path, "w", encoding="latin-1", newline="") as fh:
        w = csv.writer(fh, delimiter=";", quotechar='"', lineterminator="\n")
        if junk:
            w.writerow(["Reporte generado por TAO", "Fecha de corte", "Página 1"])
        w.writerow(header)
        w.writerows(rows)


def gen_etl(rng: random.Random, out: str) -> dict:
    truth: dict = {"run_date": ETL_RUN_DATE.isoformat(), "tables": {}}
    mtime = 1_700_000_000
    for layer in ("raw", "modeled"):
        os.makedirs(os.path.join(out, "etl", layer))
        for entity, header in (("creditos", CREDITOS_HEADER), ("radicados", RADICADOS_HEADER)):
            for k, date in enumerate(ETL_DATES):
                newest = k == len(ETL_DATES) - 1
                n = ETL_ROWS[entity] if newest else ETL_OLD_ROWS[k]
                t = None
                if newest and entity == "creditos":
                    t = dict.fromkeys(
                        ["monto_cents", "tasa_nulls", "giro_nulls", "giro_sum",
                         "inicio_nulls", "inicio_sum", "legalizacion_nulls",
                         "legalizacion_sum", "espera_nulls", "espera_sum",
                         "obs_nulls", "email_nulls"], 0)
                elif newest:
                    t = dict.fromkeys(
                        ["grupo_nulls", "gauegi", "fecha_nulls", "rpta_nulls",
                         "radicado_sum"], 0)
                base = 1_000_000 * (k + 1)
                rows = (
                    _creditos_rows(rng, n, base, t) if entity == "creditos"
                    else _radicados_rows(rng, n, base, t)
                )
                path = os.path.join(out, "etl", layer, f"{date}_{entity}.csv")
                _write_csv(path, header, rows, junk=entity == "creditos")
                # newest-wins is decided by modification time; dates and
                # mtimes agree, as on the reference's Drive folders
                mtime += 86_400
                os.utime(path, (mtime, mtime))
                if newest:
                    truth["tables"][f"{layer}_{entity}"] = dict(t, rows=n)
    truth["input_rows"] = 2 * sum(ETL_ROWS.values())
    return truth


# --- nightly, EP2 --------------------------------------------------------

MERGE_COLS = ["id", "estado", "tasa", "fecha_giro", "oficina", "saldo", "nota"]


def _merge_row(rng, key: str) -> dict:
    return {
        "id": key,
        "estado": rng.choice(["Activo", "Terminado", "Solicitud", "Anulado"]),
        "tasa": None if rng.random() < 0.05 else f"0.{rng.randint(10_000, 99_999)}",
        "fecha_giro": None if rng.random() < 0.2
        else (dt.date(2020, 1, 1) + dt.timedelta(days=rng.randint(0, 1500))).isoformat(),
        "oficina": rng.choice(TOWNS),
        "saldo": str(rng.randint(0, 90_000_000)),
        "nota": "" if rng.random() < 0.5 else f"nota {rng.randint(1, 10**6)}",
    }


def _update(rng, row: dict, kind: str) -> dict:
    """A changed copy of ``row``. ``audited`` changes an audit column
    between two non-null values (logged by the audit); ``silent``
    changes only non-audit columns; ``from_null`` fills a null audit
    column (a null transition, which the audit does not log)."""
    new = dict(row)
    if kind == "audited":
        col = rng.choice(MERGE_AUDIT_COLS)
        old = row[col]
        if old is None:
            new[col] = old = "x"  # make the old value non-null first
            row[col] = old
        while new[col] == old:
            new[col] = _merge_row(rng, row["id"])[col] or "y"
    elif kind == "silent":
        new["saldo"] = str(int(row["saldo"]) + rng.randint(1, 1000))
        new["nota"] = f"ajuste {rng.randint(1, 10**6)}"
    else:
        row["tasa"] = None
        new["tasa"] = f"0.{rng.randint(10_000, 99_999)}"
    return new


def _table(rows: list[dict]) -> pa.Table:
    return pa.table({c: pa.array([r[c] for r in rows], pa.string()) for c in MERGE_COLS})


def gen_merge(rng: random.Random, out: str) -> dict:
    os.makedirs(os.path.join(out, "merge"))
    keys = [f"K{i:08d}" for i in range(MERGE_BASE_ROWS)]
    rng.shuffle(keys)
    published = {k: _merge_row(rng, k) for k in keys}

    # today: updates of three kinds plus inserts; raw = published ⊕ today.
    # ``_update`` may adjust a published row (to plant a null or a
    # non-null old value), so the published table is written afterwards
    upd_keys = rng.sample(keys, MERGE_UPDATES)
    kinds = ["audited"] * (MERGE_UPDATES // 2) + ["silent"] * (MERGE_UPDATES // 4)
    kinds += ["from_null"] * (MERGE_UPDATES - len(kinds))
    delta = [_update(rng, published[k], kind) for k, kind in zip(upd_keys, kinds)]
    delta += [_merge_row(rng, f"K{MERGE_BASE_ROWS + i:08d}") for i in range(MERGE_INSERTS)]
    pq.write_table(_table(list(published.values())), os.path.join(out, "merge", "base.parquet"))

    raw = dict(published)
    raw.update({r["id"]: r for r in delta})
    raw_rows = list(raw.values())
    rng.shuffle(raw_rows)
    pq.write_table(_table(raw_rows), os.path.join(out, "merge", "raw.parquet"))
    pq.write_table(_table(delta), os.path.join(out, "merge", "delta.parquet"))

    audited = sum(
        any(
            published[r["id"]][c] is not None and r[c] is not None
            and published[r["id"]][c] != r[c]
            for c in MERGE_AUDIT_COLS
        )
        for r in delta[:MERGE_UPDATES]
    )
    pool = (
        rng.sample([r["id"] for r in delta], MERGE_LOOKUP_POOL // 2)
        + rng.sample(keys, MERGE_LOOKUP_POOL // 2)
    )
    rng.shuffle(pool)
    return {
        "published_rows": len(published),
        "merged_rows": len(raw),
        "audit_rows": audited,
        "audit_cols": MERGE_AUDIT_COLS,
        "lookups": [[k, raw[k]] for k in pool],
        "input_rows": len(delta),
    }


# --- corpus_dedup --------------------------------------------------------

def _vocab(rng) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "de", "gu", "ba",
           "fe", "zo", "chi", "ma", "ren", "tal", "vi", "sun", "dor"]
    words: set[str] = set()
    while len(words) < DEDUP_VOCAB:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _shingles(text: str) -> set[str]:
    """The program's shingling, restated: lowercase, non-alphanumeric
    runs → one space, trim, split on spaces, word 3-grams."""
    import re

    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
    n = DEDUP_SHINGLE
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _render_text(rng, words: list[str]) -> str:
    out = []
    for i, w in enumerate(words):
        if i == 0 or rng.random() < 0.05:
            w = w.capitalize()
        out.append(w)
        if rng.random() < 0.08:
            out[-1] += rng.choice([",", ";", "."])
    return " ".join(out) + "."


def _round4(x: float) -> float:
    import math

    return math.floor(x * 10000.0 + 0.5) / 10000.0


def gen_dedup(rng: random.Random, out: str) -> dict:
    os.makedirs(os.path.join(out, "dedup"))
    vocab = _vocab(rng)
    texts: list[str] = []
    clusters: list[list[int]] = []
    sizes = [rng.choice([2, 2, 3, 4]) for _ in range(DEDUP_CLUSTERS)]
    singles = DEDUP_DOCS - sum(sizes) - DEDUP_EXACT_COPIES
    for size in sizes:
        words = [rng.choice(vocab) for _ in range(rng.randint(*DEDUP_WORDS))]
        members = [len(texts)]
        texts.append(_render_text(rng, words))
        seen = {tuple(words)}
        while len(members) < size:
            # a near-duplicate differs only at its tail (a replaced or an
            # appended last word): Jaccard ≥ 0.96 on 3-shingles. A draw
            # that repeats a member's words would be an exact duplicate
            v = list(words)
            if rng.random() < 0.5:
                v[-1] = rng.choice(vocab)
            else:
                v.append(rng.choice(vocab))
            if tuple(v) in seen:
                continue
            seen.add(tuple(v))
            members.append(len(texts))
            texts.append(_render_text(rng, v))
        clusters.append(members)
    single_ids = []
    for _ in range(singles):
        single_ids.append(len(texts))
        words = [rng.choice(vocab) for _ in range(rng.randint(*DEDUP_WORDS))]
        texts.append(_render_text(rng, words))
    for src in rng.sample(single_ids, DEDUP_EXACT_COPIES):
        # an exact duplicate after normalisation: case and punctuation only
        texts.append(texts[src].upper().replace(" ", " -- ", 3))
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    table = pa.table({
        "doc_id": pa.array(list(range(len(texts))), pa.int64()),
        "text": pa.array([texts[old] for old in order], pa.string()),
    })
    pq.write_table(table, os.path.join(out, "dedup", "docs.parquet"))

    sh = {}
    pairs = []
    for members in clusters:
        ids = sorted(doc_id[m] for m in members)
        for m in members:
            sh[doc_id[m]] = _shingles(texts[m])
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sh[a] & sh[b])
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                pairs.append([a, b, _round4(j)])
    if min(p[2] for p in pairs) < DEDUP_THRESHOLD:
        raise RuntimeError("planted near-duplicate below the threshold")
    return {
        "docs": len(texts),
        "survivors": len(texts) - DEDUP_EXACT_COPIES,
        "clusters": [sorted(doc_id[m] for m in c) for c in clusters],
        "pairs": pairs,
        "threshold": DEDUP_THRESHOLD,
        "num_hashes": DEDUP_NUM_HASHES,
        "bands": DEDUP_BANDS,
        "input_rows": len(texts),
    }


# --- nightly -------------------------------------------------------------

def gen_nightly(rng: random.Random, out: str) -> dict:
    """EP1's CSV folders and EP2's published table and delta, each with
    its own truth."""
    etl = gen_etl(rng, out)
    merge = gen_merge(rng, out)
    return {"etl": etl, "merge": merge,
            "input_rows": etl["input_rows"] + merge["input_rows"]}


GENERATORS = {"nightly": gen_nightly, "corpus_dedup": gen_dedup}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = random.Random(f"{args.workload}:{args.seed}")
    truth = GENERATORS[args.workload](rng, args.out)
    truth["seed"] = args.seed
    with open(os.path.join(args.out, "truth.json"), "w") as fh:
        json.dump(truth, fh)


if __name__ == "__main__":
    main()
