package perfbench

/** The current version of an index tree as GRAFT_INDEX_STATS reports it. */
object IndexInfo {

  final case class Stats(version: Int, committedVersions: Long, bytes: Long,
                         meta: Map[String, String]) {
    /** Rows the tree holds: exact dedup meta counts stored digests, IVF
      * meta counts built plus appended vectors. */
    def rows: Long = meta.get("n_docs").map(_.toLong).getOrElse(
      meta("built_count").toLong + meta("appended_count").toLong)
  }

  def stats(ctx: Ctx, index: String): Stats = {
    val rows = ctx.spark.sql("SELECT version, committed, current, bytes, meta " +
      s"FROM GRAFT_INDEX_STATS('$index')").collect()
    val cur = rows.find(_.getBoolean(2)).getOrElse(
      throw new IllegalStateException(s"index $index has no current version"))
    val meta = cur.getString(4).split(",").toSeq.filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    Stats(cur.getInt(0), rows.count(_.getBoolean(1)).toLong, cur.getLong(3), meta)
  }

  /** (bytes of the current versions, rows they hold, committed versions). */
  def footprint(ctx: Ctx, indexes: Seq[String]): (Long, Long, Long) =
    indexes.map(stats(ctx, _)).foldLeft((0L, 0L, 0L)) { case ((b, r, v), s) =>
      (b + s.bytes, r + s.rows, v + s.committedVersions)
    }
}
