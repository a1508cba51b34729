"""S5/S6: boundary sources — the Osmosis .poly file reader.

The reference reads Osmosis polygon files (lib/Boundary.pm:34-52: first
section's ring, reversed to CCW when delivered CW) or a `--bbox` rectangle
(osm2mp.pl:257-266). Driver-side parsing (boundaries are single small
rings); the result feeds the broadcast boundary struct used by the clip and
coastline stages.
"""

from __future__ import annotations

from ..geometry.kernels import signed_area


def read_poly(text_or_path: str) -> list[tuple[float, float]]:
    """Parse an Osmosis .poly: name line, section name, coordinate pairs,
    'END' terminators. Returns the FIRST section's ring, closed, CCW.
    Sections after the first (holes / extra rings) are ignored, matching the
    reference's single-boundary use."""
    if "\n" in text_or_path:
        lines = text_or_path.splitlines()
    else:
        with open(text_or_path) as f:
            lines = f.read().splitlines()
    it = iter(lines)
    next(it)  # polygon name
    next(it)  # first section name
    ring: list[tuple[float, float]] = []
    for line in it:
        s = line.strip()
        if s == "END":
            break
        parts = s.split()
        if len(parts) >= 2:
            ring.append((float(parts[0]), float(parts[1])))
    if not ring:
        raise ValueError("empty .poly section")
    if ring[0] != ring[-1]:
        ring.append(ring[0])
    if signed_area(ring) < 0:  # CW input → reverse to CCW (Boundary.pm:46)
        ring = list(reversed(ring))
    return ring
