"""TableReport — parity with skrub/_reporting (TableReport).

Per-column summary statistics computed in ONE distributed agg pass
(+ one exploded-groupBy pass for ALL top string values and numeric
histograms at once, one `limit(n)` for the preview).
Renders as a plain dict / JSON or a self-contained HTML document
(the reference's flagship UX, skrub/_reporting/ — stat cards, bar
distributions, sample rows, optional associations table). No
data-scale collects anywhere: every artifact is bounded by
columns x bins.
"""

from __future__ import annotations

import html as _html
import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_NUMERIC = {"double", "float", "int", "bigint", "smallint", "tinyint"}
_N_BINS = 10


class TableReport:
    def __init__(self, df: DataFrame, n_top_values: int = 10, title: str | None = None):
        self.df = df
        self.n_top_values = n_top_values
        self.title = title
        self._summary: dict | None = None

    def summary(self) -> dict:
        if self._summary is not None:
            return self._summary
        df = self.df
        dtypes = dict(df.dtypes)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c, t in dtypes.items():
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__dist"))
            if t in _NUMERIC:
                aggs += [
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                    F.avg(c).alias(f"{c}__mean"),
                    F.stddev_samp(c).alias(f"{c}__std"),
                    F.percentile_approx(
                        c, [0.25, 0.5, 0.75], 10000
                    ).alias(f"{c}__q"),
                ]
            elif t.startswith("timestamp") or t == "date":
                aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
        row = df.agg(*aggs).first().asDict()
        n = row["__n"]
        cols = {}
        for c, t in dtypes.items():
            info = {
                "dtype": t,
                "n_rows": n,
                "null_count": row.get(f"{c}__nulls"),
                "null_fraction": (row.get(f"{c}__nulls") or 0) / n if n else None,
                "approx_distinct": row.get(f"{c}__dist"),
            }
            for stat in ("min", "max", "mean", "std"):
                if f"{c}__{stat}" in row:
                    v = row[f"{c}__{stat}"]
                    info[stat] = str(v) if hasattr(v, "isoformat") else v
            if f"{c}__q" in row and row[f"{c}__q"] is not None:
                q = row[f"{c}__q"]
                info["quantiles"] = {"25%": q[0], "50%": q[1], "75%": q[2]}
            cols[c] = info
        self._add_cells(cols, row, dtypes)
        self._summary = {
            "title": self.title,
            "n_rows": n,
            "n_columns": len(dtypes),
            "columns": cols,
        }
        return self._summary

    def _add_cells(self, cols: dict, stat_row: dict, dtypes: dict) -> None:
        """Top values of every string column and equal-width _N_BINS
        histograms of every numeric column in ONE exploded
        ``groupBy(ci, k).count()``, where ``k`` is the value or the bin
        as a string. Each column keeps its ``max(n_top_values, _N_BINS)``
        highest-ranked cells (count desc, then ``k``); that single
        ``rk <= K`` predicate lets Spark plan a partial top-K
        (WindowGroupLimit) before the exchange, so no task sorts all of
        a column's distinct values. The collect is columns x K cells;
        string cells are trimmed to ``n_top_values`` here."""
        strs = [c for c, t in dtypes.items() if t == "string" and stat_row["__n"]]
        num = [
            c
            for c, t in dtypes.items()
            if t in _NUMERIC
            and stat_row.get(f"{c}__min") is not None
            and stat_row.get(f"{c}__max") is not None
            and stat_row[f"{c}__max"] != stat_row[f"{c}__min"]
        ]
        if not strs and not num:
            return
        structs = [
            F.struct(F.lit(i).alias("ci"), F.col(c).alias("k"))
            for i, c in enumerate(strs)
        ]
        bins = {}
        for i, c in enumerate(num, start=len(strs)):
            mn = float(stat_row[f"{c}__min"])
            w = (float(stat_row[f"{c}__max"]) - mn) / _N_BINS
            bins[i] = (c, mn, w)
            # least() skips nulls: without the when, a null would count
            # in the top bin
            b = F.when(
                F.col(c).isNotNull(),
                F.least(
                    F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(w)),
                    F.lit(_N_BINS - 1),
                ),
            )
            structs.append(F.struct(F.lit(i).alias("ci"), b.cast("string").alias("k")))
        rank = Window.partitionBy("ci").orderBy(F.col("count").desc(), F.col("k"))
        cells = (
            self.df.select(F.explode(F.array(*structs)).alias("e"))
            # a null string is a top value, a null bin is no cell
            .where(F.col("e.k").isNotNull() | (F.col("e.ci") < len(strs)))
            .groupBy("e.ci", "e.k")
            .count()
            .withColumn("rk", F.row_number().over(rank))
            .where(F.col("rk") <= max(self.n_top_values, _N_BINS))
            .collect()
        )
        top: dict[int, list] = {i: [] for i in range(len(strs))}
        hists = {i: [0] * _N_BINS for i in bins}
        for r in sorted(cells, key=lambda r: (r["ci"], r["rk"])):
            if r["ci"] in top:
                top[r["ci"]].append({"value": r["k"], "count": r["count"]})
            else:
                hists[r["ci"]][int(r["k"])] = r["count"]
        for i, c in enumerate(strs):
            cols[c]["top_values"] = top[i][: self.n_top_values]
        for i, (c, mn, w) in bins.items():
            cols[c]["histogram"] = [
                {"lo": mn + j * w, "hi": mn + (j + 1) * w, "count": hists[i][j]}
                for j in range(_N_BINS)
            ]

    def to_json(self) -> str:
        return json.dumps(self.summary(), default=str)

    # ---------------- HTML ----------------

    def to_html(self, include_associations: bool = True, n_sample_rows: int = 10) -> str:
        """Self-contained HTML document: shape header, sample rows,
        per-column stat cards with bar distributions, and (optionally)
        the Cramér's-V associations table."""
        s = self.summary()
        e = _html.escape
        parts = [
            "<!DOCTYPE html><html><head><meta charset='utf-8'>",
            f"<title>{e(str(s['title'] or 'TableReport'))}</title>",
            "<style>",
            "body{font-family:system-ui,sans-serif;margin:1.5rem;color:#222}",
            ".cards{display:flex;flex-wrap:wrap;gap:12px}",
            ".card{border:1px solid #ddd;border-radius:8px;padding:10px 14px;"
            "min-width:240px;max-width:320px}",
            ".card h4{margin:0 0 4px 0;font-size:14px}",
            ".dtype{color:#777;font-size:12px}",
            "table{border-collapse:collapse;font-size:13px;margin:8px 0}",
            "td,th{border:1px solid #e3e3e3;padding:3px 8px;text-align:left}",
            ".bar{background:#4a7db5;height:11px;display:inline-block}",
            ".dist td{border:none;padding:1px 4px;font-size:11px;"
            "white-space:nowrap}",
            "</style></head><body>",
            f"<h2>{e(str(s['title'] or 'TableReport'))}</h2>",
            f"<p>{s['n_rows']:,} rows &times; {s['n_columns']} columns</p>",
        ]

        sample = self.df.limit(n_sample_rows).collect()
        if sample:
            hdr = "".join(f"<th>{e(c)}</th>" for c in self.df.columns)
            body = "".join(
                "<tr>"
                + "".join(f"<td>{e(str(r[c]))}</td>" for c in self.df.columns)
                + "</tr>"
                for r in sample
            )
            parts.append(
                f"<h3>Sample</h3><table><tr>{hdr}</tr>{body}</table>"
            )

        parts.append("<h3>Columns</h3><div class='cards'>")
        for c, info in s["columns"].items():
            card = [
                f"<div class='card'><h4>{e(c)} "
                f"<span class='dtype'>{e(info['dtype'])}</span></h4>"
            ]
            rows = [
                ("nulls", f"{info['null_count']} "
                          f"({(info['null_fraction'] or 0) * 100:.1f}%)"),
                ("distinct&approx;", info["approx_distinct"]),
            ]
            for k in ("min", "max", "mean", "std"):
                if k in info and info[k] is not None:
                    v = info[k]
                    rows.append((k, f"{v:.4g}" if isinstance(v, float) else v))
            if "quantiles" in info:
                q = info["quantiles"]
                rows.append(
                    ("quartiles",
                     " / ".join(f"{q[p]:.4g}" for p in ("25%", "50%", "75%")))
                )
            card.append(
                "<table>" + "".join(
                    f"<tr><td>{k}</td><td>{e(str(v))}</td></tr>"
                    for k, v in rows
                ) + "</table>"
            )
            dist = None
            if "histogram" in info:
                mx = max((h["count"] for h in info["histogram"]), default=0) or 1
                dist = [
                    (f"{h['lo']:.3g}&ndash;{h['hi']:.3g}", h["count"],
                     100 * h["count"] / mx)
                    for h in info["histogram"]
                ]
            elif "top_values" in info and info["top_values"]:
                mx = info["top_values"][0]["count"] or 1
                dist = [
                    (e(str(t["value"])), t["count"], 100 * t["count"] / mx)
                    for t in info["top_values"]
                ]
            if dist:
                card.append("<table class='dist'>")
                for label, cnt, pct in dist:
                    card.append(
                        f"<tr><td>{label}</td>"
                        f"<td><span class='bar' style='width:{pct:.0f}px'>"
                        f"</span> {cnt}</td></tr>"
                    )
                card.append("</table>")
            card.append("</div>")
            parts.append("".join(card))
        parts.append("</div>")

        if include_associations and s["n_columns"] >= 2:
            from .associations import column_associations

            assoc = column_associations(self.df).collect()
            if assoc:
                body = "".join(
                    f"<tr><td>{e(r['left_column_name'])}</td>"
                    f"<td>{e(r['right_column_name'])}</td>"
                    f"<td>{r['cramer_v']:.4f}</td></tr>"
                    for r in assoc
                )
                parts.append(
                    "<h3>Associations (Cram&eacute;r's V)</h3>"
                    "<table><tr><th>left</th><th>right</th><th>V</th></tr>"
                    f"{body}</table>"
                )
        parts.append("</body></html>")
        return "".join(parts)

    def _repr_html_(self) -> str:  # notebook hook — the full report
        return self.to_html()
