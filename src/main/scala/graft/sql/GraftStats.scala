package graft.sql

import org.apache.spark.sql.connector.read.Statistics

import graft.cdc.lake

object GraftStats {
  /** Table-level statistics of a lake scan from the snapshot alone — the
    * rows/bytes sums the manifest refs carry, ZERO manifest reads. Without them Catalyst assumes infinite size and a
    * 100-row dim table never broadcasts in a statically-planned join (AQE
    * rescues shuffles at runtime, but join ORDER and non-AQE contexts plan
    * on these numbers). Refs written before the sums existed report 0 with
    * files present — then the size stays unknown rather than under-reported
    * (a falsely-small table would broadcast something huge). */
  def of(snap: lake.Snapshot): Statistics = new Statistics {
    private val known = snap.manifests.forall(m => m.numFiles == 0 || m.bytes > 0)
    private def sum(m: lake.ManifestRef => Long): java.util.OptionalLong =
      if (known) java.util.OptionalLong.of(snap.manifests.map(m).sum)
      else java.util.OptionalLong.empty()
    override def sizeInBytes(): java.util.OptionalLong = sum(_.bytes)
    override def numRows(): java.util.OptionalLong = sum(_.rows)
  }
}
