"""Brute-force numpy references the benchmark checks outputs against.

Written here, not imported from the package, so a defect in the
package's own kernels cannot hide in its reference. Semantics follow
the package's documented contracts:

- point in polygon: strict-interior bbox test, then even-odd winding
  parity (upward crossings need is_left > 0, downward is_left < 0), so
  points on an edge read outside; in any shell and in no hole;
- k nearest neighbours: squared distance as (qx-tx)^2 + (qy-ty)^2 in
  float64, ties broken on (dist2, target_id);
- depression filling: priority flood, W = max(z, min neighbour W) with
  W = z on the raster border;
- D8: steepest strictly-positive drop, first maximum in neighbour order
  wins; accumulation counts upstream cells plus the cell itself;
- clump: 8-connected equal-value regions numbered 1.. in row-major
  discovery order.
"""

from __future__ import annotations

import heapq
import math
from collections import deque

import numpy as np

# D8 neighbour order: neighbour i of (r, c) is (r + D8_DY[i], c + D8_DX[i])
D8_DX = (1, 1, 1, 0, -1, -1, -1, 0)
D8_DY = (-1, 0, 1, 1, 1, 0, -1, -1)
_NEIGHBOURS8 = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1) if dr or dc]


def ring_inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd winding parity of each point against one closed ring."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    pxc, pyc = px[:, None], py[:, None]
    is_left = (x1 - x0) * (pyc - y0) - (pxc - x0) * (y1 - y0)
    up = (y0 <= pyc) & (y1 > pyc) & (is_left > 0.0)
    down = (y0 > pyc) & (y1 <= pyc) & (is_left < 0.0)
    return (up.sum(axis=1) - down.sum(axis=1)) % 2 != 0


def polygon_hits(px: np.ndarray, py: np.ndarray, ids: np.ndarray,
                 polygons: list[dict]) -> set[tuple[int, int]]:
    """(point id, polygon id) for every point inside every polygon."""
    hits = set()
    for poly in polygons:
        rings = [(np.asarray(p["ring"], dtype=np.float64), p["is_hole"]) for p in poly["parts"]]
        allv = np.concatenate([r for r, _ in rings])
        xmin, ymin = allv.min(axis=0)
        xmax, ymax = allv.max(axis=0)
        sel = np.nonzero((px > xmin) & (px < xmax) & (py > ymin) & (py < ymax))[0]
        if not len(sel):
            continue
        sx, sy = px[sel], py[sel]
        in_shell = np.zeros(len(sel), dtype=bool)
        in_hole = np.zeros(len(sel), dtype=bool)
        for ring, is_hole in rings:
            if is_hole:
                in_hole |= ring_inside(sx, sy, ring)
            else:
                in_shell |= ring_inside(sx, sy, ring)
        for i in sel[in_shell & ~in_hole]:
            hits.add((int(ids[i]), int(poly["polygon_id"])))
    return hits


def knn_rows(qids: np.ndarray, qx: np.ndarray, qy: np.ndarray,
             tids: np.ndarray, tx: np.ndarray, ty: np.ndarray,
             k: int) -> set[tuple[int, int, float, int]]:
    """(query id, target id, dist2, rank) for the k nearest targets."""
    rows = set()
    for q, x, y in zip(qids, qx, qy):
        dx = x - tx
        dy = y - ty
        d2 = dx * dx + dy * dy
        order = np.lexsort((tids, d2))[:k]
        for rank, j in enumerate(order, start=1):
            rows.add((int(q), int(tids[j]), float(d2[j]), rank))
    return rows


def priority_flood(z: np.ndarray) -> np.ndarray:
    rows, cols = z.shape
    w = np.full(z.shape, np.inf)
    done = np.zeros(z.shape, dtype=bool)
    heap = [(z[r, c], r, c) for r in range(rows) for c in range(cols)
            if r in (0, rows - 1) or c in (0, cols - 1)]
    heapq.heapify(heap)
    while heap:
        wv, r, c = heapq.heappop(heap)
        if done[r, c]:
            continue
        done[r, c] = True
        w[r, c] = wv
        for dr, dc in _NEIGHBOURS8:
            nr, nc = r + dr, c + dc
            if 0 <= nr < rows and 0 <= nc < cols and not done[nr, nc]:
                heapq.heappush(heap, (max(z[nr, nc], wv), nr, nc))
    return w


def d8_accumulation(z: np.ndarray, res_x: float, res_y: float) -> np.ndarray:
    rows, cols = z.shape
    diag = math.sqrt(res_x * res_x + res_y * res_y)
    lengths = (diag, res_x, diag, res_y, diag, res_x, diag, res_y)
    target = np.full((rows, cols), -1, dtype=np.int64)
    for r in range(rows):
        for c in range(cols):
            best, best_dir = -math.inf, -1
            for i in range(8):
                nr, nc = r + D8_DY[i], c + D8_DX[i]
                if 0 <= nr < rows and 0 <= nc < cols:
                    slope = (z[r, c] - z[nr, nc]) / lengths[i]
                    if slope > best and slope > 0.0:
                        best, best_dir = slope, i
            if best_dir >= 0:
                target[r, c] = (r + D8_DY[best_dir]) * cols + c + D8_DX[best_dir]
    flat = target.ravel()
    indeg = np.bincount(flat[flat >= 0], minlength=rows * cols)
    acc = np.ones(rows * cols, dtype=np.int64)
    todo = deque(np.nonzero(indeg == 0)[0].tolist())
    while todo:
        v = todo.popleft()
        t = flat[v]
        if t >= 0:
            acc[t] += acc[v]
            indeg[t] -= 1
            if indeg[t] == 0:
                todo.append(t)
    return acc.reshape(rows, cols).astype(np.float64)


def clump_labels(values: np.ndarray) -> np.ndarray:
    rows, cols = values.shape
    labels = np.zeros((rows, cols), dtype=np.int64)
    next_id = 0
    for r in range(rows):
        for c in range(cols):
            if labels[r, c]:
                continue
            next_id += 1
            labels[r, c] = next_id
            todo = deque([(r, c)])
            while todo:
                cr, cc = todo.popleft()
                for dr, dc in _NEIGHBOURS8:
                    nr, nc = cr + dr, cc + dc
                    if 0 <= nr < rows and 0 <= nc < cols and not labels[nr, nc] \
                            and values[nr, nc] == values[r, c]:
                        labels[nr, nc] = next_id
                        todo.append((nr, nc))
    return labels
