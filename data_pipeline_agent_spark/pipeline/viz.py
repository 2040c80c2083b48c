"""Visualization stage — reference parity for generate_visualizations
(/root/reference/main.py:134-189): same figure inventory, same caps
(corr <= first 10 numeric, histograms <= first 5), same (title, payload)
output contract.

The data behind every figure comes from operators/stats.figure_data:
three fused JVM-only passes over the frame (plus the categorical
target's value counts); rendering is driver-side over those tiny results.
This container has no matplotlib/seaborn, so figures render as
dependency-free SVG data-URIs (deterministic string assembly). With
matplotlib installed the same data could feed PNG rendering — the Spark
side is identical either way. Histograms carry the reference's KDE
overlay (sns.histplot(kde=True), main.py:156,179) as a polyline: Gaussian
densities on a 64-point grid, scaled to the tallest bar like seaborn does.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame

from data_pipeline_agent_spark.operators.stats import Distribution, figure_data

_W, _H = 600, 360


def _svg_to_b64(svg: str) -> str:
    return base64.b64encode(svg.encode()).decode()


def _svg_text(lines: list[str]) -> str:
    body = "".join(
        f'<text x="50%" y="{30 + i * 28}" text-anchor="middle" font-size="20" font-family="sans-serif">{l}</text>'
        for i, l in enumerate(lines)
    )
    return f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{_H}">{body}</svg>'


def _svg_bars(
    pairs: list[tuple],
    title: str,
    horizontal: bool = False,
    kde: list[tuple[float, float]] | None = None,
) -> str:
    if not pairs:
        return _svg_text([title, "(no data)"])
    mx = max(v for _, v in pairs) or 1
    n = len(pairs)
    bw = max(4, (_W - 80) // max(n, 1) - 4)
    parts = [
        f'<text x="50%" y="20" text-anchor="middle" font-size="14" font-family="sans-serif">{title}</text>'
    ]
    for i, (label, v) in enumerate(pairs):
        h = int((v / mx) * (_H - 90))
        x = 40 + i * (bw + 4)
        y = _H - 40 - h
        parts.append(f'<rect x="{x}" y="{y}" width="{bw}" height="{h}" fill="#4878a8"/>')
        if n <= 25:
            parts.append(
                f'<text x="{x + bw / 2}" y="{_H - 24}" text-anchor="middle" font-size="9" '
                f'font-family="sans-serif">{str(label)[:8]}</text>'
            )
    if kde:
        # density polyline over the bars, peak scaled to the tallest bar
        # (the visual convention of sns.histplot(kde=True))
        peak = max(y for _, y in kde) or 1.0
        plot_w = n * (bw + 4) - 4
        pts = []
        for j, (_, y) in enumerate(kde):
            px = 40 + plot_w * j / max(len(kde) - 1, 1)
            py = _H - 40 - (y / peak) * (_H - 90)
            pts.append(f"{px:.1f},{py:.1f}")
        parts.append(
            f'<polyline points="{" ".join(pts)}" fill="none" stroke="#d2691e" stroke-width="2"/>'
        )
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{_H}">'
        + "".join(parts)
        + "</svg>"
    )


def _svg_heatmap(cols: list[str], corr: dict, title: str) -> str:
    n = len(cols)
    cell = min(48, (_W - 160) // max(n, 1))
    parts = [
        f'<text x="50%" y="20" text-anchor="middle" font-size="14" font-family="sans-serif">{title}</text>'
    ]
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if j > i:
                continue  # lower triangle like the reference's masked heatmap
            v = corr.get((a, b))
            v = 0.0 if v is None else max(-1.0, min(1.0, v))
            # coolwarm-ish: blue negative, white zero, red positive
            r = int(255 * (v + 1) / 2)
            bch = int(255 * (1 - v) / 2)
            g = int(255 - abs(v) * 128)
            x, y = 120 + j * cell, 40 + i * cell
            parts.append(
                f'<rect x="{x}" y="{y}" width="{cell - 1}" height="{cell - 1}" fill="rgb({r},{g},{bch})"/>'
            )
            parts.append(
                f'<text x="{x + cell / 2}" y="{y + cell / 2 + 3}" text-anchor="middle" '
                f'font-size="9" font-family="sans-serif">{v:.2f}</text>'
            )
        parts.append(
            f'<text x="112" y="{40 + i * cell + cell / 2 + 3}" text-anchor="end" font-size="9" '
            f'font-family="sans-serif">{a[:14]}</text>'
        )
    h = max(_H, 60 + n * cell)
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{_W}" height="{h}">'
        + "".join(parts)
        + "</svg>"
    )


def _svg_hist(dist: Distribution, title: str) -> str:
    return _svg_bars([(f"{lo:.3g}", c) for lo, _, c in dist.bins], title, kde=dist.kde)


def generate_visualizations(
    df: DataFrame, target_col: str | None = None, n_rows: int | None = None
) -> list[tuple[str, str]]:
    """[(title, base64-SVG)] — figure inventory of main.py:134-189.

    Pass n_rows when already known (the pipeline caches the cleaned frame
    and counts once); otherwise the figure passes count the rows.
    NaN counts as missing; a plotted column holding +-inf raises
    ValueError naming the column.
    """
    figs: list[tuple[str, str]] = []
    data = figure_data(df, target_col)
    if n_rows is None:
        n_rows = data.n_rows

    # 1. Dataset overview (main.py:139-147)
    figs.append(
        (
            "Dataset Overview",
            _svg_to_b64(
                _svg_text(
                    [
                        "Dataset Overview",
                        f"Rows: {n_rows}",
                        f"Columns: {len(df.columns)}",
                        f"Target: {target_col}",
                    ]
                )
            ),
        )
    )

    # 2. Target distribution (main.py:150-161): categorical if nunique<=20
    if target_col and target_col in df.columns:
        title = f"Distribution of {target_col}"
        if data.target_counts is not None:
            svg = _svg_bars(data.target_counts, title)
        else:
            svg = _svg_hist(data.dists[target_col], title)
        figs.append((f"Target Distribution ({target_col})", _svg_to_b64(svg)))

    # 3. Correlation heatmap, first 10 numeric (main.py:164-175)
    if len(data.corr_cols) >= 2:
        figs.append(
            (
                "Feature Correlation",
                _svg_to_b64(_svg_heatmap(data.corr_cols, data.corr, "Feature Correlation Matrix")),
            )
        )

    # 4. Top-5 numeric feature distributions (main.py:178-187)
    for i, col in enumerate(data.hist_cols):
        svg = _svg_hist(data.dists[col], f"Distribution of {col}")
        figs.append((f"Feature {i + 1}: {col}", _svg_to_b64(svg)))

    return figs
