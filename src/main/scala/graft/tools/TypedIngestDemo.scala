package graft.tools

import graft.ingest.StagingReader

/** Drives the typed Dataset[EventDto] ingest boundary end-to-end:
  * runMain graft.tools.TypedIngestDemo <stagingDir> */
object TypedIngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(2)
    val ds = StagingReader.readStagedTyped(spark, args.head)
    val dtos = ds.collect()
    dtos.foreach { d =>
      println(s"[typed] artist=${d.artist_data.flatMap(_.name)} " +
        s"related=${d.artist_data.flatMap(_.related_artists).getOrElse(Nil).map(r => (r.name, r.wwoz_artist_href))}")
    }
    println(s"[typed] total=${dtos.length}")
    spark.stop()
  }
}
