package esgopeta_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local filesystem with a fork-free {@code setPermission}.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs a
 * {@code chmod} process for every file, {@code .crc} file and directory a
 * write creates. This class sets the same mode bits through
 * {@code java.nio}; modes with the sticky bit keep the stock path.
 *
 * <p>Build (the jar next to this file is that build):
 * {@code javac --release 17 -cp <pyspark>/jars/hadoop-client-api-*.jar -d out
 * esgopeta_spark/jvm/NioLocalFileSystem.java && jar --create --file
 * esgopeta_spark/jvm/nio-localfs.jar -C out esgopeta_spark}
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw filesystem under the checksum layer. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
