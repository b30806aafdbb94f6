package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}

import graft.formats.{OsmEntity, OsmKind, OsmMember, OsmTag, PbfWriter}

/**
 * Seeded synthetic planet in the shape of `graft.OsmBench`'s corpus:
 * nodes in two dense hotspots (one in twenty tagged), ways of four
 * nearby nodes plus one in five of three consecutive nodes that cross
 * hotspots, and relations over a way and a node where one in three
 * nests the next relation. The seed moves every coordinate and the
 * way/relation member choice; ids and counts depend only on `nodes`.
 */
object Planet {

  /** splitmix64 finalizer. */
  private def mix(x0: Long): Long = {
    var x = x0 * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def bounded(h: Long, n: Int): Int = ((h & Long.MaxValue) % n).toInt

  def entityCount(nodes: Int): Long = nodes.toLong + nodes / 10 + nodes / 100

  private def entities(nodes: Int, seed: Long): Iterator[OsmEntity] = {
    val salt = mix(seed + 0x5EED)
    def r(i: Long, stream: Long): Long = mix(i ^ salt ^ (stream << 48))
    val nWays = nodes / 10
    val nRels = nodes / 100
    val ns = Iterator.tabulate(nodes) { i =>
      val hot = i % 2
      val baseLat = if (hot == 0) 100000000 else 140000000
      val baseLon = if (hot == 0) 200000000 else 260000000
      OsmEntity.node(1000L + i, baseLat + bounded(r(i, 1), 20000000),
        baseLon + bounded(r(i, 2), 20000000), version = 1,
        tags = if (i % 20 == 0)
          Vector(OsmTag("amenity", "cafe"), OsmTag("name", s"n$i"))
        else Vector.empty)
    }
    val ws = Iterator.tabulate(nWays) { i =>
      val base = bounded(r(i, 3), nodes - 8)
      val refs =
        if (i % 5 == 0) Vector.tabulate(3)(j => 1000L + base + j) // crosses hotspots
        else Vector.tabulate(4)(j => 1000L + base + 2 * j)
      OsmEntity.way(50000000L + i, refs, version = 1,
        tags = Vector(OsmTag("highway", "track")))
    }
    val rs = Iterator.tabulate(nRels) { i =>
      val members =
        Vector(OsmMember(OsmKind.Way, 50000000L + bounded(r(i, 4), nWays), "outer"),
          OsmMember(OsmKind.Node, 1000L + bounded(r(i, 5), nodes), "")) ++
          (if (i % 3 == 0 && i + 1 < nRels)
             Vector(OsmMember(OsmKind.Relation, 80000000L + i + 1, "subarea"))
           else Vector.empty)
      OsmEntity.relation(80000000L + i, members, version = 1,
        tags = Vector(OsmTag("type", "multipolygon")))
    }
    ns ++ ws ++ rs
  }

  /** Writes the planet as one .pbf file; returns its size in bytes. */
  def writePbf(path: String, nodes: Int, seed: Long): Long = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try {
      val w = new PbfWriter(out)
      entities(nodes, seed).foreach(w.write)
      w.finish()
    } finally out.close()
    new java.io.File(path).length()
  }
}
