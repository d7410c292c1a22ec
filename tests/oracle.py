"""Independent, deliberately-naive NumPy oracle implementations.

Loop-based (per pixel / per series) re-statements of the reference
semantics, used to verify the vectorized engine kernels — the
dual-implementation equivalence strategy of the reference's own tests
(/root/reference/tests/testthat/test-vrt-set-mask.R:270-282).
"""

from __future__ import annotations

import numpy as np


# --------------------------------------------------------- compositing ----

def composite_pixel(series: np.ndarray, how: str, q: float = 0.5) -> float:
    """One pixel's time series (1-D, NaN for nodata) → scalar."""
    v = series[~np.isnan(series)]
    if len(v) == 0:
        return np.nan
    if how == "median":
        return float(np.median(v))
    if how == "mean":
        return float(np.mean(v))
    if how == "geomean":
        return float(np.exp(np.mean(np.log(v))))
    if how == "quantile":
        return float(np.quantile(v, q))
    if how == "mean_db":
        return float(10 * np.log10(np.mean(v)))
    if how == "min":
        return float(np.min(v))
    if how == "max":
        return float(np.max(v))
    if how == "sum":
        return float(np.sum(v))
    raise ValueError(how)


def composite_stack(stack: np.ndarray, how: str, q: float = 0.5) -> np.ndarray:
    """(T,B,H,W) → (B,H,W), pixel by pixel."""
    T_, B, H, W = stack.shape
    out = np.empty((B, H, W))
    for b in range(B):
        for i in range(H):
            for j in range(W):
                out[b, i, j] = composite_pixel(stack[:, b, i, j], how, q)
    return out


def mosaic_stack(stack: np.ndarray) -> np.ndarray:
    T_, B, H, W = stack.shape
    out = np.full((B, H, W), np.nan)
    for b in range(B):
        for i in range(H):
            for j in range(W):
                for t in range(T_):
                    if not np.isnan(stack[t, b, i, j]):
                        out[b, i, j] = stack[t, b, i, j]
    return out


# ------------------------------------------------- multiband reducers ----

def weiszfeld_1(X: np.ndarray, nitermax=100, epsilon=1e-8) -> np.ndarray:
    """Geometric median of complete rows of (T,B); NaN if none."""
    comp = X[~np.isnan(X).any(axis=1)]
    if len(comp) == 0:
        return np.array([np.nanmedian(X[:, b]) for b in range(X.shape[1])])
    y = np.median(comp, axis=0)
    for _ in range(nitermax):
        d = np.sqrt(((comp - y) ** 2).sum(axis=1))
        w = 1.0 / np.maximum(d, epsilon)
        y_new = (comp * w[:, None]).sum(axis=0) / w.sum()
        if np.abs(y_new - y).max() < epsilon:
            return y_new
        y = y_new
    return y


def xoid_1(X: np.ndarray, stat, impute_na=True, distance="euclidean",
           impute_stat=None):
    """xoid_generator semantics (multiband_reduce_funs.R:273-307) for a
    single (T,B) matrix. ``stat`` maps a (T,B') matrix → (B',) vector
    (nan-aware)."""
    X = X[~np.all(np.isnan(X), axis=1)]  # drop all-NA observations
    if len(X) == 0:
        return np.full(X.shape[1], np.nan)
    na_cols = np.where(np.isnan(X).any(axis=0))[0]
    keep = [b for b in range(X.shape[1]) if b not in set(na_cols)]
    if keep:
        xc = X[:, keep]
        target = np.asarray(stat(xc), dtype=float)
        if distance == "euclidean":
            d = np.sqrt(((xc - target) ** 2).sum(axis=1))
        elif distance == "manhattan":
            d = np.abs(xc - target).sum(axis=1)
        else:
            raise ValueError(distance)
        best = int(np.argmin(d))
    else:
        best = 0
    result = X[best].astype(float).copy()
    if impute_na and np.isnan(result).any():
        cols = np.where(np.isnan(result))[0]
        ist = impute_stat or (lambda col: np.asarray(stat(col))[0])
        for c in cols:
            result[c] = ist(X[:, [c]])
    return result


def medoid_1(X, impute_na=True):
    return xoid_1(X, lambda m: np.nanmedian(m, axis=0), impute_na)


def quantoid_1(X, p=0.4, impute_na=True):
    return xoid_1(X, lambda m: np.nanquantile(m, p, axis=0), impute_na)


def geomedoid_1(X, impute_na=True):
    # impute with per-band nanmedian (the engine's deterministic
    # stand-in for the stochastic Gmedian imputation)
    return xoid_1(X, lambda m: weiszfeld_1(m), impute_na,
                  impute_stat=lambda col: float(np.nanmedian(col)))


def multiband_stack(stack: np.ndarray, reducer_1) -> np.ndarray:
    """(T,B,H,W) → (B,H,W) applying a (T,B)→(B,) reducer per pixel."""
    T_, B, H, W = stack.shape
    out = np.empty((B, H, W))
    for i in range(H):
        for j in range(W):
            out[:, i, j] = reducer_1(stack[:, :, i, j])
    return out


# ------------------------------------------------------------ hampel ----

def hampel_1(x: np.ndarray, k: int, t0=3.0, impute_na=False) -> np.ndarray:
    """One series — direct restatement of hampel-filter-matrix.cpp."""
    x = np.asarray(x, dtype=float)
    out = x.copy()
    vi = np.where(~np.isnan(x))[0]
    v = x[vi]
    f = v.copy()
    n = len(v)
    if n >= 2 * k + 1:
        for i in range(k, n - k):
            win = v[i - k:i + k + 1]
            x0 = np.median(win)
            S0 = 1.4826 * np.median(np.abs(win - x0))
            if abs(v[i] - x0) > t0 * S0:
                f[i] = x0
    out[vi] = f
    if impute_na:
        for i in range(len(out)):
            if np.isnan(out[i]):
                for j in range(i - 1, -1, -1):
                    if not np.isnan(out[j]):
                        out[i] = out[j]
                        break
    return out


# ------------------------------------------------------ spatial oracle ----

def brute_force_join(images_pdf, aoi_pdf, min_coverage=None):
    """Exact (aoi_id, image_id) pair set via per-pair polygon clipping.

    Multipart semantics follow the reference's stac_coverage_filter
    (R/stac-utils.R:494-506): intersection areas SUM over the AOI's
    parts and coverage = sum(isect) / area(whole multipart geometry)."""
    from vrtility_spark.join import intersection_area_wkt, parse_wkt_polygon, polygon_area
    totals: dict[str, float] = {}
    seen_parts = set()
    for a in aoi_pdf.itertuples(index=False):
        key = (a.aoi_id, a.geom_wkt)
        if key in seen_parts:
            continue
        seen_parts.add(key)
        totals[a.aoi_id] = totals.get(a.aoi_id, 0.0) + \
            polygon_area(parse_wkt_polygon(a.geom_wkt))
    isects: dict[tuple, float] = {}
    seen_parts = set()
    for a in aoi_pdf.itertuples(index=False):
        # a part listed twice is one part: counted once in the
        # intersections as in the totals
        if (a.aoi_id, a.geom_wkt) in seen_parts:
            continue
        seen_parts.add((a.aoi_id, a.geom_wkt))
        a_zone = int(a.srs.split(":")[1])
        for im in images_pdf.itertuples(index=False):
            if im.zone != a_zone:
                continue
            isect = intersection_area_wkt(a.geom_wkt, im.xmin, im.ymin,
                                          im.xmax, im.ymax)
            if isect > 0:
                k = (a.aoi_id, im.image_id)
                isects[k] = isects.get(k, 0.0) + isect
    pairs = [k for k, v in isects.items()
             if min_coverage is None or v / totals[k[0]] > min_coverage]
    return sorted(set(pairs))


def brute_force_knn(images_pdf, queries_pdf):
    """Exact kNN over tile centers (ties broken by image_id)."""
    out = {}
    for q in queries_pdf.itertuples(index=False):
        cands = []
        for im in images_pdf.itertuples(index=False):
            if im.zone != q.zone:
                continue
            cx, cy = (im.xmin + im.xmax) / 2, (im.ymin + im.ymax) / 2
            d = float(np.hypot(cx - q.x, cy - q.y))
            cands.append((d, im.image_id))
        cands.sort()
        out[q.query_id] = cands[: q.k]
    return out


# ---------------------------------------------------------- hydrology ----

_D8 = {1: (0, 1), 2: (-1, 1), 4: (-1, 0), 8: (-1, -1),
       16: (0, -1), 32: (1, -1), 64: (1, 0), 128: (1, 1)}


def flow_accumulation_walk(codes: np.ndarray) -> np.ndarray:
    """Naive D8 flow accumulation: for every valid pixel, WALK its
    drainage path step by step, incrementing every pixel it reaches
    (ESRI upstream-count convention, self excluded). Pointers off the
    array edge or onto a nodata-code pixel stop the walk after the
    final receipt; sinks (code 0) absorb."""
    codes = np.asarray(codes, np.float64)
    B, H, W = codes.shape
    acc = np.full((B, H, W), np.nan)
    for b in range(B):
        c = codes[b]
        a = np.zeros((H, W))
        for sy in range(H):
            for sx in range(W):
                if not np.isfinite(c[sy, sx]):
                    continue
                y, x = sy, sx
                for _ in range(H * W + 1):
                    code = c[y, x]
                    if not np.isfinite(code) or code == 0:
                        break  # nodata-code / sink: absorbed
                    dy, dx = _D8[int(code)]
                    y, x = y + dy, x + dx
                    if not (0 <= y < H and 0 <= x < W):
                        break  # off the DEM: the void absorbs
                    a[y, x] += 1.0  # receipt at every pixel reached
        a[~np.isfinite(c)] = np.nan
        acc[b] = a
    return acc


def stream_order_recursive(codes: np.ndarray) -> np.ndarray:
    """Naive Strahler order: for every valid pixel, gather its direct
    upstream neighbors by inspecting all eight codes and evaluate the
    textbook recurrence (no upstream -> 1; else max upstream order m,
    +1 when two or more attain m) with an explicit memo stack."""
    codes = np.asarray(codes, np.float64)
    B, H, W = codes.shape
    out = np.full((B, H, W), np.nan)
    for b in range(B):
        c = codes[b]
        ups: dict = {}
        for y in range(H):
            for x in range(W):
                code = c[y, x]
                if not np.isfinite(code) or code == 0:
                    continue
                dy, dx = _D8[int(code)]
                ny, nx = y + dy, x + dx
                if 0 <= ny < H and 0 <= nx < W and np.isfinite(c[ny, nx]):
                    ups.setdefault((ny, nx), []).append((y, x))
        memo: dict = {}
        for sy in range(H):
            for sx in range(W):
                if not np.isfinite(c[sy, sx]):
                    continue
                stack = [(sy, sx)]
                while stack:
                    p = stack[-1]
                    if p in memo:
                        stack.pop()
                        continue
                    u = ups.get(p, [])
                    missing = [q for q in u if q not in memo]
                    if missing:
                        stack.extend(missing)
                        continue
                    if not u:
                        memo[p] = 1
                    else:
                        os_ = [memo[q] for q in u]
                        m = max(os_)
                        memo[p] = m + (os_.count(m) >= 2)
                    stack.pop()
                out[b, sy, sx] = float(memo[(sy, sx)])
    return out


def cloud_shadow_walk(cloud: np.ndarray, shifts, union=False) -> np.ndarray:
    """Naive shadow projection on an UNPADDED (B, H, W) 0/1 cloud
    array (NaN = nodata): per pixel, scan every shift; a source
    outside the array or NaN counts as clear; output NaN where the
    input was NaN."""
    B, H, W = cloud.shape
    out = np.zeros((B, H, W))
    for b in range(B):
        for y in range(H):
            for x in range(W):
                hit = False
                for dy, dx in shifts:
                    sy_, sx_ = y - dy, x - dx
                    if 0 <= sy_ < H and 0 <= sx_ < W:
                        v = cloud[b, sy_, sx_]
                        if np.isfinite(v) and v > 0:
                            hit = True
                            break
                if union and not hit:
                    v = cloud[b, y, x]
                    hit = bool(np.isfinite(v) and v > 0)
                out[b, y, x] = 1.0 if hit else 0.0
        out[b][~np.isfinite(cloud[b])] = np.nan
    return out


def fill_sinks_jacobi(dem: np.ndarray, eps: float = 0.0) -> np.ndarray:
    """Naive depression filling as the obviously-correct Jacobi
    fixpoint: W starts at Z on outlet pixels (array border or
    8-adjacent to nodata) and +inf elsewhere, then sweeps
    ``W = max(Z, min_8nb(W) + eps)`` until nothing changes — a
    genuinely different algorithm from the engine's priority-flood."""
    dem = np.asarray(dem, np.float64)
    B, H, W_ = dem.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        Z = dem[b]
        valid = np.isfinite(Z)
        seed = np.zeros((H, W_), bool)
        for y in range(H):
            for x in range(W_):
                if not valid[y, x]:
                    continue
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dy == 0 and dx == 0:
                            continue
                        ny, nx = y + dy, x + dx
                        if (not (0 <= ny < H and 0 <= nx < W_)
                                or not valid[ny, nx]):
                            seed[y, x] = True
        lvl = np.where(seed, Z, np.inf)
        lvl[~valid] = np.nan
        changed = True
        while changed:
            changed = False
            new = lvl.copy()
            for y in range(H):
                for x in range(W_):
                    if not valid[y, x] or seed[y, x]:
                        continue
                    lo = np.inf
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            if dy == 0 and dx == 0:
                                continue
                            ny, nx = y + dy, x + dx
                            if (0 <= ny < H and 0 <= nx < W_
                                    and valid[ny, nx]):
                                lo = min(lo, lvl[ny, nx] + eps)
                    cand = max(Z[y, x], lo)
                    if cand < new[y, x]:
                        new[y, x] = cand
                        changed = True
            lvl = new
        out[b] = lvl
    return out


def basins_walk(codes: np.ndarray, oy: int = 0, ox: int = 0,
                span: int = 1 << 26) -> np.ndarray:
    """Naive watershed labeling: WALK every valid pixel's D8 path step
    by step until a sink (code 0), a nodata target, or the array edge;
    label = ``(oy + ty) * span + (ox + tx)`` of the stopping pixel."""
    codes = np.asarray(codes, np.float64)
    B, H, W_ = codes.shape
    out = np.full((B, H, W_), np.nan)
    for b in range(B):
        c = codes[b]
        for sy in range(H):
            for sx in range(W_):
                if not np.isfinite(c[sy, sx]):
                    continue
                y, x = sy, sx
                for _ in range(H * W_ + 1):
                    code = c[y, x]
                    if code == 0:
                        break
                    dy, dx = _D8[int(code)]
                    ny, nx = y + dy, x + dx
                    if (not (0 <= ny < H and 0 <= nx < W_)
                            or not np.isfinite(c[ny, nx])):
                        break  # off-map / into nodata: outlet HERE
                    y, x = ny, nx
                out[b, sy, sx] = float((oy + y) * span + (ox + x))
    return out


def cost_distance_bellman(cost: np.ndarray, src: np.ndarray) -> np.ndarray:
    """Naive cost distance as the obviously-correct Bellman-Ford
    fixpoint: ``acc`` starts at 0 on source pixels and +inf elsewhere,
    then per-pixel sweeps
    ``acc[p] = min(acc[p], acc[q] + dist * (cost[q] + cost[p]) / 2)``
    over all 8 neighbors ``q`` until nothing changes — a genuinely
    different algorithm from the engine's multi-source Dijkstra.
    Barriers (NaN friction) return NaN; unreachable valid pixels
    return +inf, matching costdist.cost_distance_np."""
    cost = np.asarray(cost, np.float64)
    H, W_ = cost.shape
    valid = np.isfinite(cost)
    sq2 = float(np.sqrt(2.0))
    acc = np.where(np.asarray(src, bool) & valid, 0.0, np.inf)
    changed = True
    while changed:
        changed = False
        for y in range(H):
            for x in range(W_):
                if not valid[y, x]:
                    continue
                best = acc[y, x]
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dy == 0 and dx == 0:
                            continue
                        ny, nx = y + dy, x + dx
                        if (not (0 <= ny < H and 0 <= nx < W_)
                                or not valid[ny, nx]):
                            continue
                        d = sq2 if (dy != 0 and dx != 0) else 1.0
                        cand = acc[ny, nx] + d * (cost[ny, nx]
                                                  + cost[y, x]) / 2.0
                        if cand < best:
                            best = cand
                if best < acc[y, x]:
                    acc[y, x] = best
                    changed = True
    out = acc.copy()
    out[~valid] = np.nan
    return out


def mlc_fit_naive(X: np.ndarray, L: np.ndarray, reg: float = 0.0):
    """Naive per-class Gaussian fit: gather each class's pixels with
    Python loops, mean = np.mean, covariance = the explicit
    sum-of-outer-products MLE — a genuinely different float path from
    the engine's sufficient-statistic assembly. Returns
    {class: (n, mean, cov)}."""
    B, H, W_ = X.shape
    rows: dict[int, list] = {}
    for y in range(H):
        for x in range(W_):
            if not np.isfinite(L[y, x]):
                continue
            v = X[:, y, x]
            if not np.all(np.isfinite(v)):
                continue
            rows.setdefault(int(L[y, x]), []).append(v.copy())
    out = {}
    for c, vs in rows.items():
        A = np.stack(vs)
        mu = A.mean(axis=0)
        cov = np.zeros((B, B))
        for v in vs:
            d = v - mu
            cov += np.outer(d, d)
        cov = cov / len(vs) + reg * np.eye(B)
        out[c] = (len(vs), mu, cov)
    return out


def mlc_predict_naive(X: np.ndarray, model: dict,
                      method: str = "mlc") -> np.ndarray:
    """Naive per-pixel classification: explicit loops over pixels and
    classes, quadratic form via nested dot products."""
    B, H, W_ = X.shape
    out = np.full((H, W_), np.nan)
    classes = sorted(model)
    for y in range(H):
        for x in range(W_):
            v = X[:, y, x]
            if not np.all(np.isfinite(v)):
                continue
            best, best_g = None, -np.inf
            for c in classes:
                m = model[c]
                d = v - m["mean"]
                if method == "mlc":
                    g = (m["logprior"] - 0.5 * m["logdet"]
                         - 0.5 * float(d @ m["inv"] @ d))
                else:
                    g = -float(d @ d)
                if g > best_g:
                    best, best_g = c, g
            out[y, x] = float(best)
    return out


def krige_naive(xs, ys, vs, x0, y0, size, w, h, vmodel,
                radius, max_points=16, min_points=1):
    """Naive per-pixel ordinary kriging: explicit loops, per-pixel
    stable nearest-k selection, one np.linalg.solve per pixel — a
    genuinely different assembly path from the engine's batched
    identity-padded systems."""
    from vrtility_spark.kriging import variogram_np
    xs = np.asarray(xs, float)
    ys = np.asarray(ys, float)
    vs = np.asarray(vs, float)
    out = np.full((h, w), np.nan)
    for iy in range(h):
        for ix in range(w):
            cx = x0 + (ix + 0.5) * size / w
            cy = y0 + (iy + 0.5) * size / h
            d2 = (xs - cx) ** 2 + (ys - cy) ** 2
            inside = d2 <= radius ** 2
            if inside.sum() < min_points:
                continue
            dm = np.where(inside, d2, np.inf)
            sel = np.argsort(dm, kind="stable")[:max_points]
            sel = sel[np.isfinite(dm[sel])]
            n = len(sel)
            A = np.zeros((n + 1, n + 1))
            for a in range(n):
                for b_ in range(n):
                    dd = np.hypot(xs[sel[a]] - xs[sel[b_]],
                                  ys[sel[a]] - ys[sel[b_]])
                    A[a, b_] = float(variogram_np(
                        dd, vmodel["nugget"], vmodel["psill"],
                        vmodel["range"], vmodel["model"]))
            A[n, :n] = 1.0
            A[:n, n] = 1.0
            rhs = np.zeros(n + 1)
            for a in range(n):
                rhs[a] = float(variogram_np(
                    np.sqrt(d2[sel[a]]), vmodel["nugget"],
                    vmodel["psill"], vmodel["range"], vmodel["model"]))
            rhs[n] = 1.0
            wt = np.linalg.solve(A, rhs)
            out[iy, ix] = float((wt[:n] * vs[sel]).sum())
    return out[None]


def otsu_naive(values, counts) -> float:
    """Naive Otsu: try every split of the sorted histogram with
    explicit loops and recomputed class moments."""
    order = np.argsort(np.asarray(values, float), kind="stable")
    v = np.asarray(values, float)[order]
    c = np.asarray(counts, float)[order]
    best_k, best_crit = None, -1.0
    for k in range(len(v) - 1):
        w0 = c[:k + 1].sum()
        w1 = c[k + 1:].sum()
        if w0 == 0 or w1 == 0:
            continue
        mu0 = (c[:k + 1] * v[:k + 1]).sum() / w0
        mu1 = (c[k + 1:] * v[k + 1:]).sum() / w1
        crit = w0 * w1 * (mu0 - mu1) ** 2
        if crit > best_crit:
            best_k, best_crit = k, crit
    return float((v[best_k] + v[best_k + 1]) / 2.0)


def allocation_walk(P: np.ndarray, V: np.ndarray, values,
                    max_dist: float) -> np.ndarray:
    """Naive Euclidean allocation: for every pixel, loop over every
    candidate offset, track the best (d², then lowest dy, then
    leftmost source x) and copy that target's value — the explicit
    twin of the engine's separable carry rules."""
    H, W = P.shape
    r = int(np.ceil(max_dist))
    tgt = np.isin(P, np.asarray(list(values), float))
    out = np.full((H, W), np.nan)
    for y in range(H):
        for x in range(W):
            best = None  # (d2, dy, sx)
            for dy in range(-r, r + 1):
                sy = y + dy
                if not 0 <= sy < H:
                    continue
                for sx in range(W):
                    if not tgt[sy, sx]:
                        continue
                    d2 = dy * dy + (sx - x) ** 2
                    if d2 > max_dist ** 2:
                        continue
                    cand = (d2, dy, abs(sx - x), sx)
                    if best is None or cand < best:
                        best = cand
            if best is not None:
                out[y, x] = V[y + best[1], best[3]]
    return out
